"""Text-analysis operators for a training-data pipeline (north star,
SURVEY §2.10): document stats, quality scoring, language-ID heuristic,
token counting, content fingerprinting.

The scoring/counting operators are built-in-expression-only (JVM,
whole-stage codegen). Python appears exactly where the shape demands it:
the rolling fingerprint (vectorized numpy via mapInPandas) and the
top-terms UDAF (applyInPandas) — both Arrow-batched. The reference has no
text operators; its only string work is lower-casing and LIKE (F6/F7).

Scale notes: all operators are embarrassingly parallel projections or
single hash aggregates; no shuffles except the explicit groupBys. At
100 TB the text column dominates scan cost — every query projects only
the columns it needs so Parquet column pruning does its job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..catalog import load_table, table_path
from ..session import default_parallelism

# Tiny in-query stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
}

# BPE-ish tokenizer regex: letter runs, single digits, or single symbols.
TOKEN_RE = "[a-z]+|[0-9]|[^a-z0-9\\s]"
FP_WINDOW = 16  # character k-gram width for the rolling fingerprint
DECONTAM_NGRAM = 8  # long n-grams: only real shared passages match
DECONTAM_DF_CAP = 50  # n-grams in more docs than this are boilerplate, not leaks

# Training-sequence chunking: window/stride in words. Overlap
# (CHUNK_WORDS - CHUNK_STRIDE) carries context across chunk boundaries —
# the standard fixed-window document chunking done before tokenize+pack.
# Sized so the ~50-word fixture docs produce 2-3 chunks each.
CHUNK_WORDS = 32
CHUNK_STRIDE = 24


def _words(col):
    return F.split(F.lower(F.trim(col)), r"\s+")


def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats + heuristic quality score in one projection
    (one driver slot for both operators): word count, char length, avg
    word length, non-alnum junk ratio, and the standard cheap 3-part
    pre-filter score used before LLM training (length band + junk ratio
    + mean-word-length band). Pure JVM expressions, embarrassingly
    parallel, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_chars = F.length("text")
    junk_ratio = F.length(F.regexp_replace(F.lower("text"), "[a-z0-9 ]", "")) / n_chars
    mean_wl = F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)) / F.size(words)
    score = (
        F.when((n_chars >= 100) & (n_chars <= 5000), 1).otherwise(0)
        + F.when(junk_ratio < 0.1, 1).otherwise(0)
        + F.when((mean_wl >= 3) & (mean_wl <= 10), 1).otherwise(0)
    )
    return docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        n_chars.alias("n_chars_actual"),
        F.round(junk_ratio, 4).alias("junk_ratio"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        score.alias("quality_score"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic: per-language stopword counts +
    argmax. (The fixture text is synthetic so accuracy is not the point;
    the operator shape — n lexicon scores + argmax — is.)"""
    docs = load_table(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    scores = {
        lang: F.size(F.filter(words, lambda w: w.isin(sw))).alias(f"score_{lang}")
        for lang, sw in STOPWORDS.items()
    }
    scored = docs.select("doc_id", "lang", *scores.values())
    best = F.greatest(*[F.col(f"score_{lang}") for lang in STOPWORDS])
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in STOPWORDS:  # first-match-wins tie break, fixed lang order
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.select(
        "doc_id", "lang", *[f"score_{lang}" for lang in STOPWORDS], pred.alias("pred_lang")
    )


# Corpus-mixing recipe for the driver slot: per-source keep fractions
# (sources absent from the map are dropped). Values chosen to exercise
# 1.0 (keep-all), mid fractions, and implicit drop in one query.
MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
SAMPLE_FRACTION = 0.25


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + deterministic sampling/mixing under one slot,
    long format by ``tag``:

    - 'all': whitespace + BPE-ish regex token totals per source.
    - 'sample_25': the same totals over ``hash_sample`` (md5 mode,
      fraction 0.25) — the content-keyed corpus subsample.
    - 'mix': the same totals over ``mix_sources`` (md5 mode,
      MIX_WEIGHTS) — the per-source data-mixing operator.

    ONE scan feeds all three tags: membership in each variant is a
    boolean flag computed in the same projection as the token counts,
    rows explode only their applicable tags, and a single hash aggregate
    produces every (tag, source) group. At 100 TB this is one pass over
    the text column instead of three."""
    from .sampling import _bucket_hex, _hex_threshold

    # NOT widened (r15): the paired bench showed the widening exchange
    # costs more than this slot's single-task regex work saves
    # (+0.22 s consistent across pairs) — the per-row load here is one
    # regexp_extract_all + split, an order of magnitude lighter than
    # doc_profile's chain, so the single-split fixture scan wins.
    docs = load_table(spark, sf_dir, "documents")
    bucket = _bucket_hex("doc_id", 0)
    mix_thr = F.create_map(
        *[F.lit(x) for s, w in MIX_WEIGHTS.items() for x in (s, _hex_threshold(w))]
    )[F.col("source")]
    per_doc = docs.select(
        "doc_id",
        "source",
        F.size(_words(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)).alias(
            "re_tokens"
        ),
        F.array_compact(
            F.array(
                F.lit("all"),
                F.when(bucket < _hex_threshold(SAMPLE_FRACTION), "sample_25"),
                F.when(mix_thr.isNotNull() & (bucket < mix_thr), "mix"),
            )
        ).alias("tags"),
    )
    return (
        per_doc.select(
            "source", "ws_tokens", "re_tokens", F.explode("tags").alias("tag")
        )
        .groupBy("tag", "source")
        .agg(
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("re_tokens").alias("total_re_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: min/max of a Rabin-Karp rolling polynomial
    hash over sliding FP_WINDOW-byte windows. Deterministic; rows-only.

    Implemented as a numpy rolling hash inside mapInPandas: the window
    hash for every position is computed with vectorized uint64 arithmetic
    (one multiply-add sweep per window byte), not one hash call per
    window — a per-window Catalyst expression was ~10x slower at sf0.1."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").repartition(default_parallelism())
    base = np.uint64(1099511628211)  # FNV-ish odd multiplier

    def _fp(batches):
        import pandas as pd

        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "fp_min": pd.Series([], dtype="int64"),
                        "fp_max": pd.Series([], dtype="int64"),
                    }
                )
                continue
            # One rolling-hash sweep over the WHOLE batch (r15, guide
            # §4.2 "hand whole batches to vectorized native code"): the
            # per-doc loop paid FP_WINDOW tiny numpy ops per document —
            # overhead-bound on ~200-word docs. Concatenating the batch's
            # (zero-padded) byte buffers makes it FP_WINDOW multiply-adds
            # over ONE array; windows that straddle document boundaries
            # are simply never selected, because each doc's valid window
            # positions are the contiguous [start_i, start_i + k_i) slice
            # (k_i = n_i - FP_WINDOW + 1) that segment-min/max below
            # reads via minimum/maximum.reduceat. Identical uint64
            # arithmetic per element, so fingerprints are bit-equal to
            # the per-doc form (pinned in tests/test_text_fingerprint.py).
            bufs = []
            lens = np.empty(n_docs, dtype=np.int64)
            for i, text in enumerate(pdf["text"]):
                # NULL text fingerprints like the empty string (the
                # zero-padded window below) — dropping the row would
                # desync the per-doc sections of the fingerprint slot
                b = (text or "").lower().strip().encode("utf-8")
                if len(b) < FP_WINDOW:
                    b = b + b"\x00" * (FP_WINDOW - len(b))
                bufs.append(b)
                lens[i] = len(b)
            data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            starts = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            ks = lens - FP_WINDOW + 1  # valid windows per doc (>= 1)
            total_k = len(data) - FP_WINDOW + 1
            with np.errstate(over="ignore"):
                h = np.zeros(total_k, dtype=np.uint64)
                for j in range(FP_WINDOW):
                    h = h * base + data[j : j + total_k].astype(np.uint64)
            # interleaved reduceat bounds [s_0, s_0+k_0, s_1, ...]: even
            # slots reduce each doc's valid range, odd slots cover the
            # boundary-straddling gap (discarded). The final end index
            # (== len(h)) is dropped — the last segment runs to the end,
            # which IS the last doc's valid range.
            idx = np.empty(2 * n_docs, dtype=np.int64)
            idx[0::2] = starts
            idx[1::2] = starts + ks
            idx = idx[:-1]
            fp_min = np.minimum.reduceat(h, idx)[0::2].astype(np.int64)
            fp_max = np.maximum.reduceat(h, idx)[0::2].astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "fp_min": fp_min,
                    "fp_max": fp_max,
                }
            )

    return (
        docs.select("doc_id", "text")
        .mapInPandas(_fp, "doc_id long, fp_min long, fp_max long")
    )


def n_chunks_expr(n_words, chunk_words: int = CHUNK_WORDS, stride: int = CHUNK_STRIDE):
    """Closed-form chunk count for ``chunk_documents``: starts are
    0, stride, 2*stride, ... while start < n_words - overlap (and always
    at least one chunk), so K = floor(max(n - overlap - 1, 0)/stride) + 1.
    Pure integer arithmetic — the same formula is evaluated by the DuckDB
    oracle, and a test asserts it equals the exploded chunk count."""
    overlap = chunk_words - stride
    return (
        F.floor(F.greatest(n_words - F.lit(overlap + 1), F.lit(0)) / stride) + 1
    ).cast("long")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_words: int = CHUNK_WORDS,
    stride: int = CHUNK_STRIDE,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Fixed-window document chunking with overlap — the sequence-prep
    step between cleaning and tokenize+pack in a training pipeline. Each
    document becomes ceil-many overlapping word windows of ``chunk_words``
    words advancing by ``stride`` (every doc yields at least one chunk).

    Pure JVM: split once, generate the start offsets with ``sequence``,
    explode, slice. Embarrassingly parallel, no shuffle, linear in corpus
    size; the per-row fan-out is bounded by doc length / stride. Output:
    keep_cols + (chunk_id, chunk_start, n_chunk_words, chunk_text)."""
    if stride < 1 or stride > chunk_words:
        raise ValueError(f"need 1 <= stride <= chunk_words, got {stride}/{chunk_words}")
    overlap = chunk_words - stride
    out = df.withColumn("_cw", _words(F.col(text_col)))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("_cw") - F.lit(overlap + 1), F.lit(0)),
        F.lit(stride),
    )
    out = out.select(*keep_cols, "_cw", F.posexplode(starts).alias("chunk_id", "chunk_start"))
    piece = F.slice(F.col("_cw"), F.col("chunk_start") + 1, chunk_words)
    return out.select(
        *keep_cols,
        "chunk_id",
        "chunk_start",
        F.size(piece).alias("n_chunk_words"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def hashed_tf(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("doc_id",),
    l2_normalize: bool = True,
) -> DataFrame:
    """Feature-hashing TF vectors: ``keep_cols + (embedding
    array<double>)`` where embedding[j] counts the document's words
    hashing to bucket j (xxhash64 mod dim), optionally L2-normalized.

    The model-free bridge from the text tier to the vector tier: hashed
    TF cosine approximates word-multiset overlap, so every downstream
    vector operator (cosine pairs, IVF/SQ8/RP ANN, SemDeDup, embedding
    connected components) applies to raw text with no external model —
    the classic hashing trick (Weinberger et al. 2009).

    Pure JVM, no shuffle: split once, hash each word to its bucket,
    densify with one transform over [0, dim) counting that bucket's
    hits. O(words x dim) per row in whole-stage codegen — at dim=64
    that is ~10^4 integer compares per document, noise next to the
    split itself. Linear in corpus; per-row state is the dim-array."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    # NULL text must yield a ZERO vector, not all-NULL buckets (under
    # ANSI/Spark 4, size(filter(NULL)) is NULL per bucket, which would
    # poison downstream cosine/ANN math) — same coalesce as bpe_encode
    words = F.coalesce(
        _words(F.col(text_col)), F.array().cast("array<string>")
    )
    out = df.withColumn("_hw", words).withColumn(
        "_hb",
        F.transform(F.col("_hw"), lambda w: F.pmod(F.xxhash64(w), F.lit(dim))),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.size(F.filter(F.col("_hb"), lambda h: h == j)).cast(
            "double"
        ),
    )
    out = out.withColumn("_e", dense)
    if l2_normalize:
        nrm = F.sqrt(F.aggregate(F.col("_e"), F.lit(0.0), lambda a, x: a + x * x))
        vec = F.when(
            nrm > 0, F.transform(F.col("_e"), lambda x: x / nrm)
        ).otherwise(F.col("_e"))
    else:
        vec = F.col("_e")
    return out.select(*keep_cols, vec.alias("embedding"))


# BPE tokenizer training: merge count and the deterministic training
# sample fraction (training on a content-keyed sample is standard
# practice — the merge table converges long before the full corpus).
BPE_MERGES = 8
BPE_SAMPLE = 0.2


def bpe_train(
    docs: DataFrame, n_merges: int = BPE_MERGES, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Distributed BPE merge-table training (the tokenizer-building step
    of a training-data pipeline; token COUNTING with a fixed regex lives
    in ``token_count`` — this learns the vocabulary itself).

    Returns the ordered merge table [(left, right, weighted_count), ...].

    Scale shape: the working set is the WORD VOCABULARY with counts
    (one corpus-wide hash aggregate, map-side combinable), never the
    corpus — at 100 TB distinct words are millions of rows while the
    corpus is billions. Each of the ``n_merges`` rounds is:
      1. adjacent-symbol-pair counts: per-row array explode weighted by
         word count -> one map-side-combinable hash aggregate;
      2. best pair by (count desc, pair lex) via TakeOrdered(1) — ONE
         row to the driver per round (the merge table is the k-entry
         artifact, exactly like the centroid trainer);
      3. merge application: per-row sequence rewrite (Arrow-batched
         mapInPandas — a data-dependent adjacent-fold Spark SQL can't
         express), then an eager localCheckpoint so the k-round lineage
         never stacks.
    Deterministic: counts are exact and ties break lexicographically."""
    import pandas as pd

    words = (
        docs.select(F.explode(_words(F.col(text_col))).alias("w"))
        # empty/whitespace-only documents split to [""]; a zero-length
        # word would make sequence(1, 0) the DESCENDING [1, 0] and count
        # phantom ("", "") pairs the reference algorithm (str.split, which
        # drops empties) never sees
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = words.select(
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ),
            F.array(F.lit("</w>")),
        ).alias("syms"),
        "cnt",
    ).persist()

    merges: list[tuple[str, str, int]] = []
    superseded = None
    for _ in range(n_merges):
        pair_idx = F.sequence(F.lit(0), F.size("syms") - 2)
        pairs = vocab.filter(F.size("syms") >= 2).select(
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.struct(
                        F.element_at(F.col("syms"), (i + 1).cast("int")).alias("a"),
                        F.element_at(F.col("syms"), (i + 2).cast("int")).alias("b"),
                    ),
                )
            ).alias("p"),
            "cnt",
        )
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        # this collect materialized the current vocab's persist, so the
        # previous round's copy is now releasable — exactly one superseded
        # vocab is ever held, instead of one per round
        if superseded is not None:
            superseded.unpersist()
        if not best:
            break
        a, b, n = best[0].a, best[0].b, int(best[0].n)
        merges.append((a, b, n))

        def _apply(batches, a=a, b=b):
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    syms = list(syms)
                    merged, i = [], 0
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                            merged.append(a + b)
                            i += 2
                        else:
                            merged.append(syms[i])
                            i += 1
                    out.append(merged)
                yield pd.DataFrame({"syms": out, "cnt": pdf["cnt"]})

        superseded = vocab
        vocab = vocab.mapInPandas(_apply, "syms array<string>, cnt long").persist()
    if superseded is not None:
        superseded.unpersist()
    vocab.unpersist()
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """Tokenize ``text_col`` with a merge table learned by ``bpe_train``:
    input columns plus ``tokens array<string>`` (word-boundary symbols
    carry the ``</w>`` suffix, the same convention the trainer uses).

    The classic rank-greedy application (merge the best-ranked adjacent
    pair until none applies — the order that reproduces the training
    segmentation), Arrow-batched with a per-partition WORD memo: the
    corpus re-encodes each distinct word once per partition, so the
    per-row cost collapses to a dict lookup for every repeated word —
    the same vocabulary-not-corpus working-set argument as the trainer.
    The merge table itself is a k-entry driver artifact broadcast with
    the closure (like the IVF centroids), never a shuffled table.

    Tokenization happens JVM-SIDE with the trainer's own split
    expression (``_words`` + empty filter) and the array crosses the
    Arrow boundary — a Python re-split would disagree with the Java
    regex on Unicode whitespace (Java ``\\s`` is ASCII-only while
    ``str.split()`` splits all Unicode space), silently applying the
    merge table to words the trainer never saw."""
    import pandas as pd

    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    out_fields = docs.schema.fields

    def _encode_word(word: str, memo: dict) -> list[str]:
        hit = memo.get(word)
        if hit is not None:
            return hit
        syms = list(word) + ["</w>"]
        while len(syms) >= 2:
            best_rank, best_i = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            a, b = syms[best_i], syms[best_i + 1]
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
        memo[word] = syms
        return syms

    def _encode(batches):
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            for words in pdf["_bpe_w"]:
                row: list[str] = []
                for w in words:
                    row.extend(_encode_word(w, memo))
                toks.append(row)
            pdf = pdf.drop(columns=["_bpe_w"])
            pdf["tokens"] = toks
            yield pdf

    prepped = docs.withColumn(
        "_bpe_w",
        # coalesce: _words(NULL text) is NULL, which would arrive in
        # pandas as None and crash the word loop — NULL docs tokenize
        # to [] like the pre-JVM-split behavior
        F.coalesce(
            F.filter(_words(F.col(text_col)), lambda w: F.length(w) > 0),
            F.array().cast("array<string>"),
        ),
    )
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out_fields
    )
    return prepped.mapInPandas(_encode, schema + ", tokens array<string>")


PACK_MAX = 2000  # bin capacity (chars) for the driver packing slot


def fingerprint_and_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only slot, long format by ``sect``: the rolling-hash content
    fingerprints ('fp' rows, one per doc), a per-source sequence-
    packing summary ('pack' rows) from ``pack_documents`` grouped by
    source — grouped mode is deterministic (FFD over (size desc, key
    asc) within a content-defined group), so the row count and values
    are stable across runs and partitionings — and the learned BPE merge
    table ('bpe' rows: key=left+right, v1=merge rank, v2=weighted pair
    count) trained by ``bpe_train`` on a deterministic content-keyed
    sample of the corpus.

    NOTE: building this query TRAINS the BPE artifact on a cold cache
    (k rounds of Spark jobs at construction time, before any action) —
    the merge table is driver-held data the plan embeds, like an index
    build. Plan-only inspection of a cold slot pays that once per
    (session, sf)."""
    from .sampling import pack_documents

    fp = doc_fingerprint(spark, sf_dir).select(
        F.lit("fp").alias("sect"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("fp_min").alias("v1"),
        F.col("fp_max").alias("v2"),
    )
    docs = load_table(spark, sf_dir, "documents")
    packed = pack_documents(docs, "doc_id", "n_chars", PACK_MAX, group_col="source")
    pk = (
        packed.groupBy("source")
        .agg(
            F.countDistinct("bin_id").alias("n_bins"),
            F.max("bin_fill").alias("max_fill"),
        )
        .select(
            F.lit("pack").alias("sect"),
            F.col("source").alias("key"),
            F.col("n_bins").cast("long").alias("v1"),
            F.col("max_fill").cast("long").alias("v2"),
        )
    )
    merges = _bpe_merges_cached(spark, sf_dir)
    bpe = spark.createDataFrame(
        [
            ("bpe", a + b, rank + 1, cnt)
            for rank, (a, b, cnt) in enumerate(merges)
        ],
        "sect string, key string, v1 long, v2 long",
    )
    # 'bpe_enc' rows: the trained table APPLIED to the corpus (train ->
    # encode -> pack is the full tokenizer story). v1 = token count,
    # v2 = order-sensitive hash of the token stream (\x01-separated:
    # '' would alias ["ab","c"] with ["a","bc"]) — a wrong merge order
    # or boundary symbol anywhere changes v2.
    enc = bpe_encode(docs, merges).select(
        F.lit("bpe_enc").alias("sect"),
        F.col("doc_id").cast("string").alias("key"),
        F.size("tokens").cast("long").alias("v1"),
        F.xxhash64(F.concat_ws("\x01", "tokens")).alias("v2"),
    )
    return fp.unionByName(pk).unionByName(bpe).unionByName(enc)


# The merge table is k tuples of driver-held strings — tiny — but the
# TRAINING is k distributed rounds; cache per (session, sf) like the
# centroid trainer.
def _bpe_merges_cached(spark: SparkSession, sf_dir: str) -> list:
    from .sampling import hash_sample

    return artifacts.get_or_build(
        spark, "bpe_merges", (sf_dir,),
        lambda: bpe_train(
            hash_sample(load_table(spark, sf_dir, "documents"), "doc_id", BPE_SAMPLE)
        ),
        reads=(table_path(sf_dir, "documents"),),
    )


TOP_TERMS = 3


def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production top-N terms per source — the 100 TB shape.

    Plan: explode words -> HASH AGGREGATE on (source, term) (map-side
    combinable: a hot term collapses to one partial row per map task
    before the shuffle) -> row_number window partitioned by source over
    the tiny per-source count rows -> filter rank <= N. No stage ever
    materializes a whole source: the only per-source state after the
    aggregate is its distinct-term count rows, and the window sorts
    those, not documents. Same shape as the decontamination flagging
    pass (train_test_split below).

    Ties break by term ascending — identical to the UDAF twin
    (top_terms_per_source_udaf) and the DuckDB oracle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # term != '': split of an empty/whitespace-only doc yields [''] —
    # such docs contribute NO terms, matching the UDAF twin's skip rule
    # (Python str.split drops empties) and the oracle's term <> ''
    counts = (
        docs.select("source", F.explode(_words(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_occurrences").desc(), F.col("term")
    )
    return (
        counts.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TOP_TERMS)
        .select("source", "term", "term_rank", F.col("n_occurrences"))
    )


def top_terms_per_source_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDAF surface (SURVEY §2.9): top-N terms per source via
    applyInPandas group-map — the escape hatch for aggregation logic
    Spark SQL can't express. This one *is* SQL-expressible, so it is the
    pytest-gated small-data twin of top_terms_per_source above (the
    rel_quantiles exact-vs-distributed pattern,
    tests/test_text_chunks_bm25.py::test_top_terms_udaf_matches_distributed):
    the driver slot runs the distributed plan you'd ship; this demo pulls
    a whole source into one pandas group, which is exactly the shape that
    cannot hold a 100 TB source in one executor.

    Tokenization happens JVM-side (the bpe_encode pattern): the term
    array is built with the same Java ``\\s+`` split as the distributed
    twin BEFORE the group-map, so Python's ``str.split()`` Unicode-
    whitespace semantics (U+00A0 etc.) can never make the twins
    diverge — the UDAF only counts pre-split terms."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")

    def _top(pdf: pd.DataFrame) -> pd.DataFrame:
        counts: dict[str, int] = {}
        for terms in pdf["terms"]:
            if terms is None:  # NULL text contributes no terms — the
                continue  # SQL unnest(split(NULL)) semantics
            for w in terms:
                if w:  # split of empty/ws-only text yields [''] — skip,
                    counts[w] = counts.get(w, 0) + 1  # matching term != ''
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_TERMS]
        return pd.DataFrame(
            {
                "source": pdf["source"].iloc[0],
                "term": [t for t, _ in best],
                "term_rank": range(1, len(best) + 1),
                "n_occurrences": [c for _, c in best],
            }
        )

    schema = "source string, term string, term_rank int, n_occurrences long"
    return (
        docs.select("source", _words(F.col("text")).alias("terms"))
        .groupBy("source")
        .applyInPandas(_top, schema)
    )


# BM25 relevance scoring (Robertson/Sparck-Jones with the Lucene-style
# non-negative idf): the standard lexical retrieval score, used in
# training pipelines to mine documents relevant to a seed query set.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("dup", "vector", "join")  # rare / mid / common df mix
BM25_TOPK = 10


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOPK,
) -> DataFrame:
    """Top-k documents by BM25 score for a fixed query-term set.

    Plan (scale notes): ONE scan computes per-doc length and one tf
    column per query term straight off the split array — no explode, no
    per-term shuffle. The corpus stats (N, total length, per-term df)
    reduce to a SINGLE row, broadcast back over the scan; the score is a
    fixed-order arithmetic expression (deterministic float summation —
    both engines add the per-term contributions left to right), and the
    top-k is orderBy+limit (TakeOrderedAndProject — no global sort). The
    k result rows are re-ranked with a window over a constant-size frame.
    Output values are integers only (score scaled to 1e4) so the
    cross-engine hash is immune to float formatting."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_w", _words(F.col("text"))
    )
    per_doc = docs.select(
        "doc_id",
        F.size("_w").alias("dl"),
        *[
            F.size(F.filter(F.col("_w"), lambda w: w == F.lit(t))).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = None
    for i in range(len(terms)):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df + 0.5) / (df + 0.5)
        )
        part = idf * (tf * (BM25_K1 + 1)) / (
            tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
        )
        score = part if score is None else score + part
    hits = (
        j.filter(sum(F.col(f"tf{i}") for i in range(len(terms))) > 0)
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
    from pyspark.sql import Window

    rnk = F.row_number().over(Window.orderBy(F.desc("score"), "doc_id"))
    return hits.select(
        "doc_id",
        rnk.alias("rnk"),
        F.round(F.col("score") * 10000, 0).cast("long").alias("score_x1e4"),
    )


def top_terms_and_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver slot: distributed top-terms ('top' rows; the UDAF twin is
    pytest-gated) + BM25 retrieval ('bm25' rows) as a tagged long-format
    union — (sect, grp, term, rnk, val)."""
    top = top_terms_per_source(spark, sf_dir).select(
        F.lit("top").alias("sect"),
        F.col("source").alias("grp"),
        "term",
        F.col("term_rank").alias("rnk"),
        F.col("n_occurrences").alias("val"),
    )
    bm = bm25_topk(spark, sf_dir).select(
        F.lit("bm25").alias("sect"),
        F.lit("corpus").alias("grp"),
        F.col("doc_id").cast("string").alias("term"),
        "rnk",
        F.col("score_x1e4").alias("val"),
    )
    return top.unionByName(bm)


def _split_col(doc_id_col):
    """Deterministic content-keyed split bucket: first hex char of
    md5(doc_id), 0-b -> train (12/16), c-f -> test. Hash-of-stable-key so
    the split survives re-runs, re-partitioning, and engine changes."""
    first_hex = F.substring(F.md5(doc_id_col.cast("string")), 1, 1)
    return F.when(first_hex < "c", "train").otherwise("test")


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split + cross-split decontamination —
    the two standard LLM-pipeline hygiene ops in one result.

    Split: md5-bucket on doc_id (see _split_col), reported per
    (split, lang) so stratification skew is visible.

    Decontamination: `n_leaky_docs` counts docs sharing at least one
    word-DECONTAM_NGRAM-gram with any doc of the OTHER split — the
    benchmark-contamination check, run train-vs-test. Long n-grams (8,
    vs the dedup tier's 3) because short shingles over a small
    vocabulary collide everywhere and the signal saturates; 8-grams
    only match real shared passages. Plan: explode hashed n-grams,
    derive each row's split from its doc_id, flag grams appearing under
    both splits with one hash aggregate, semi-join back, then distinct
    doc_ids. No self-join: cost is linear in n-gram rows at any scale.

    n-grams with document frequency above DECONTAM_DF_CAP are excluded:
    semantically, corpus-wide boilerplate (license headers, navigation
    chrome) is not contamination; physically it bounds the leaky-gram
    set the semi-join probes.

    Plan note (round 3): the flagging pass is a HASH AGGREGATE per
    n-gram hash (min/max split + count, map-side combinable — a hot
    boilerplate gram collapses to one partial row per map task), then a
    semi-join of the gram rows against the tiny leaky-gram set (AQE
    turns it into a broadcast join). The earlier window-over-gram-key
    formulation sorted every gram row within its key partition: same
    answer, but a hot gram was an unsplittable skewed sort partition at
    100 TB, and the sort made this the most run-to-run-variable plan in
    the bench. Aggregate+semi-join keeps every stage skew-safe."""
    from .dedup import _words as _dedup_words

    docs = load_table(spark, sf_dir, "documents").repartition(
        default_parallelism()
    )
    # n-gram keys are internal to this query (only counts cross engines),
    # so hash the 8 words directly with multi-arg xxhash64 — no
    # intermediate string concat.
    n = DECONTAM_NGRAM
    # materialize the split once: the gram lambda references the words
    # array 8 times per position, and an un-materialized expression tree
    # is re-evaluated per reference (same 40x cliff as in
    # doc_profile_with_lang)
    docs = docs.withColumn("_w", _dedup_words(F.col("text")))
    words = F.col("_w")
    idx = F.sequence(F.lit(0), F.size(words) - n)
    gram_hashes = F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    sh = docs.select("doc_id", F.explode(gram_hashes).alias("sh_h")).withColumn(
        "split", _split_col(F.col("doc_id"))
    )
    leaky_grams = (
        sh.groupBy("sh_h")
        .agg(
            F.min("split").alias("lo"),
            F.max("split").alias("hi"),
            F.count(F.lit(1)).alias("df"),
        )
        .filter((F.col("lo") != F.col("hi")) & (F.col("df") <= DECONTAM_DF_CAP))
        .select("sh_h")
    )
    leaky_docs = (
        sh.join(leaky_grams, "sh_h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_leaky", F.lit(1))
    )
    return (
        docs.withColumn("split", _split_col(F.col("doc_id")))
        .join(leaky_docs, "doc_id", "left")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.coalesce(F.sum("is_leaky"), F.lit(0)).alias("n_leaky_docs"),
        )
    )


# PII patterns for redaction — the standard pre-training scrub pass.
# Deliberately conservative/deterministic (no locale heuristics): emails,
# IPv4 literals, and international-ish phone numbers.
PII_PATTERNS = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IP": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "PHONE": r"\+?\d[\d\s().-]{7,}\d",
}


def redact_pii(df: DataFrame, col: str = "text") -> DataFrame:
    """PII redaction (frame-level library op): replace emails, IPv4
    literals, and phone-like digit runs in ``col`` with [TYPE] tokens,
    and report per-row counts per type. Pure JVM regexp expressions in
    one projection — no shuffle, no Python, linear at any scale. Pattern
    order matters: emails first (their domains would otherwise be
    mangled by later passes), then IPs (dotted digits would match the
    phone pattern), then phones."""
    out = df
    redacted = F.col(col)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name.lower()}", F.size(F.regexp_extract_all(redacted, F.lit(pat), 0))
        )
        redacted = F.regexp_replace(redacted, pat, f"[{name}]")
    return out.withColumn(col, redacted)


# ---- Bigram LM quality scoring (CCNet-style perplexity filter) -----------
#
# CCNet/RedPajama-class pipelines score documents with an n-gram LM
# trained on a trusted corpus and drop the high-perplexity tail. Here:
# a bigram LM with add-one smoothing trained on the fixture's
# ``lang = LM_LANG`` slice, scoring EVERY document with its mean
# negative log-likelihood. All counts are exact integers; only the final
# ln/divide is float, summed in a CANONICAL order (the (c12, c1) pairs
# encoded into one bigint and sorted) so Spark's aggregate() and
# DuckDB's in-list-order list_sum see identical operand sequences and
# the driver's value hash can match bit-for-bit after round(4).
#
# Scale shape: LM build = one bigram hash aggregate over the trusted
# slice (map-side combinable); scoring = two equi-joins on word keys
# (bigram hash, context hash) + one per-doc aggregate whose collect_list
# is bounded by the document's own word count — the bound the text row
# already imposes (same argument as span removal's covered-starts).
LM_LANG = "en"
_LM_ENC = 1 << 31  # (c12, c1) -> c12 * 2^31 + c1; c1 < 2^31 at any SF the
# fixture reaches — the encoding is ONLY a cross-engine sum-order
# canonicalization, swap for a struct sort where counts can exceed 2^31


def _doc_bigrams(df: DataFrame, cols: list) -> DataFrame:
    with_w = df.withColumn("_w", _words(F.col("text")))
    return with_w.select(
        *cols,
        F.explode(
            F.when(
                F.size("_w") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("_w"), (i + 1).cast("int")).alias("w1"),
                        F.element_at(F.col("_w"), (i + 2).cast("int")).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("b"),
    ).select(*cols, "b.w1", "b.w2")


def train_bigram_lm(
    lm_docs: DataFrame, persist: bool = True
) -> tuple[DataFrame, int]:
    """The LM artifact: (bigram-count table (w1, w2, c12), V = distinct
    continuations), persisted by default because every scoring call
    reads it twice (the c12 join and the derived c1 aggregate) — the V
    count doubles as the eager materialization. Callers that score many
    batches hold one artifact and unpersist when done (the slot path
    caches it per (session, sf) like the BPE/media/SQ8 artifacts);
    ``persist=False`` is the one-shot mode (lm_score's internal train),
    trading two recomputes of the aggregate for not pinning storage
    memory the caller has no handle to release."""
    c12 = (
        _doc_bigrams(lm_docs, [])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    if persist:
        c12 = c12.persist()
    v = c12.select("w2").distinct().count()
    return c12, v


def _lm_cached(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """The bigram LM trained on the documents' ``lang = LM_LANG`` slice,
    once per (session, documents state)."""
    return artifacts.get_or_build(
        spark, "bigram_lm", (sf_dir,),
        lambda: train_bigram_lm(
            load_table(spark, sf_dir, "documents").filter(F.col("lang") == LM_LANG)
        ),
        reads=(table_path(sf_dir, "documents"),), release=lambda v: v[0].unpersist(),
    )


# Inline-map gate (r15 optimization): an LM whose bigram table has at most
# this many entries is scored through two FOLDED MAP LITERALS inside the
# document projection instead of the explode + 2 broadcast joins + per-doc
# aggregate + re-join pipeline. Below the knee that removes every exchange
# and per-call broadcast build from the scoring pass (measured at sf0.1:
# fresh-plan score pass 1.23 s -> 0.62 s; fused into text_doc_profile it
# also deletes the final doc_id join). The gate exists because Catalyst's
# literal-map lookup is a linear scan: cost per bigram ~ entries/2, so the
# fixture's cube-root vocab growth (31 words/931 bigrams at sf<=0.1, ~4.4k
# bigrams at sf1) crosses over quickly — above the gate the join path
# (hash lookup, corpus-scalable) stands unchanged. Both paths are pinned
# equal by tests/test_text.py::test_lm_inline_matches_join_path.
LM_INLINE_MAX_ENTRIES = 2048

# (m12 map Column, m1 map Column) per (session, sf) — built once from
# the persisted c12 artifact iff it passes the gate; a None entry
# memoizes "too big (or unencodable), use the join path". The entry
# reads the documents table, like the LM it is built from, so a
# retrained LM (the documents changed) never meets the old maps.

# Each lookup table is ONE string literal parsed by a foldable str_to_map
# — not a map_from_arrays over per-entry literals, which costs one py4j
# round trip AND one expression node per entry, turning every plan build
# into a ~2k-node tree that analysis re-walks per query (measured: the
# text_doc_profile builder went 0.7 s -> 2.1 s per call under the
# array-literal form; the single-string form keeps the tree at a handful
# of nodes and ConstantFolding parses it once per plan).
_LM_SEP_PAIR = "\x1e"
_LM_SEP_KV = "\x1f"


def _lm_maps(spark: SparkSession, sf_dir: str, lm: tuple[DataFrame, int]):
    """Literal lookup-map COLUMNS for the inline scoring path, or None
    when the LM is past LM_INLINE_MAX_ENTRIES (driver + plan size stay
    bounded: the collect is gated BEFORE it runs) or a key contains the
    encoding separators (the join path then guarantees correctness).
    ``lm`` is ``sf_dir``'s own _lm_cached LM, so the key is the sf alone."""
    c12, _v = lm

    def build():
        if not 0 < c12.count() <= LM_INLINE_MAX_ENTRIES:
            return None
        rows = c12.collect()
        c1: dict[str, int] = {}
        for r in rows:
            c1[r["w1"]] = c1.get(r["w1"], 0) + int(r["c12"])
        if any(
            _LM_SEP_PAIR in r["w1"] + r["w2"] or _LM_SEP_KV in r["w1"] + r["w2"]
            for r in rows
        ):
            return None
        m12_str = _LM_SEP_PAIR.join(
            f"{r['w1']} {r['w2']}{_LM_SEP_KV}{int(r['c12'])}" for r in rows
        )
        m1_str = _LM_SEP_PAIR.join(f"{w}{_LM_SEP_KV}{c}" for w, c in c1.items())
        return tuple(
            F.str_to_map(F.lit(s), F.lit(_LM_SEP_PAIR), F.lit(_LM_SEP_KV))
            for s in (m12_str, m1_str)
        )

    return artifacts.get_or_build(
        spark, "lm_maps", (sf_dir,), build,
        reads=(table_path(sf_dir, "documents"),), max_entries=16,
    )


def _lm_encs(bigrams_col, maps: tuple):
    """Sorted (c12*ENC + c1) encodings for a bigram-string array column,
    via two FOLDED MAP LITERALS — the inline replacement for the scoring
    joins. A bigram (or context word) absent from its map yields NULL,
    cast stays NULL, and coalesce(…, 0) restores exactly the join path's
    left-join-miss semantics. MUST be materialized as its own column (a
    dedicated Project) before the aggregate columns below read it:
    referenced from several output expressions it would re-evaluate per
    reference — the same re-evaluation cliff doc_profile_with_lang
    documents for ``_w``/``_bg`` (measured: 2.7 s -> 8.5 s when the four
    lm columns each inlined this tree)."""
    m12, m1 = maps
    return F.sort_array(
        F.transform(
            bigrams_col,
            lambda b: F.coalesce(m12[b].cast("long"), F.lit(0)) * F.lit(_LM_ENC)
            + F.coalesce(m1[F.split(b, " ")[0]].cast("long"), F.lit(0)),
        )
    )


def _lm_agg_cols(encs, v: int) -> dict:
    """The lm_score output columns as PURE EXPRESSIONS over a
    MATERIALIZED ``_lm_encs`` attribute column. Same encoding, same
    sorted fold, same float op order as lm_score's aggregate, so the two
    paths are bit-identical (n_bigrams/sum_c12/n_oov exact ints;
    bigram_nll the identical sorted left-fold before round(4))."""
    n_bg = F.size(encs)
    return {
        "n_bigrams": n_bg.cast("long").alias("n_bigrams"),
        "sum_c12": F.aggregate(
            encs, F.lit(0).cast("long"), lambda a, e: a + F.shiftright(e, 31)
        ).alias("sum_c12"),
        "n_oov": F.aggregate(
            encs,
            F.lit(0).cast("long"),
            lambda a, e: a + F.when(F.shiftright(e, 31) == 0, 1).otherwise(0),
        ).alias("n_oov"),
        "bigram_nll": F.when(
            n_bg > 0,
            F.round(
                -F.aggregate(
                    encs,
                    F.lit(0.0),
                    lambda acc, e: acc
                    + F.log(
                        (F.shiftright(e, 31) + 1)
                        / (e.bitwiseAND(F.lit(_LM_ENC - 1)) + F.lit(v))
                    ),
                )
                / n_bg,
                4,
            ),
        ).alias("bigram_nll"),
    }


def _bigram_strings(words_col):
    """"w1 w2" bigram array from a split-words array column (the same
    construction doc_profile_with_lang materializes as ``_bg``)."""
    return F.when(
        F.size(words_col) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(words_col) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words_col, (i + 1).cast("int")),
                F.element_at(words_col, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver wrapper: score every fixture document against the LM
    trained on the ``lang = LM_LANG`` slice (trained once per
    (session, sf)). Small LMs (<= LM_INLINE_MAX_ENTRIES bigrams) score
    through the inline literal-map projection — one scan, zero
    exchanges; larger LMs take lm_score's join path."""
    docs = load_table(spark, sf_dir, "documents")
    lm = _lm_cached(spark, sf_dir)
    maps = _lm_maps(spark, sf_dir, lm)
    if maps is None:
        return lm_score(docs, lm=lm)
    from ..catalog import widen_narrow_scan

    with_encs = widen_narrow_scan(
        docs, spark, table_key=(sf_dir, "documents")
    ).select(
        "doc_id",
        _lm_encs(_bigram_strings(_words(F.col("text"))), maps).alias("_encs"),
    )
    cols = _lm_agg_cols(F.col("_encs"), lm[1])
    return with_encs.select(
        "doc_id", cols["n_bigrams"], cols["sum_c12"], cols["n_oov"], cols["bigram_nll"]
    )


def lm_score(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    lm: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """Per-document bigram-LM scores of ``docs`` (needs doc_id, text)
    against an add-one-smoothed bigram LM trained on ``lm_docs`` (needs
    text) — or a prebuilt ``lm`` artifact from ``train_bigram_lm`` when
    scoring repeatedly: (doc_id, n_bigrams, sum_c12, n_oov, bigram_nll)
    where bigram_nll = round(mean of -ln((c12+1)/(c1+V)), 4) over the
    doc's bigrams (NULL when the doc has < 2 words), c12/c1 are the
    LM's bigram/context counts and V its distinct-continuation count.
    sum_c12 and n_oov are exact integers — the oracle keeps teeth on the
    join/count logic independent of float behavior."""
    if lm is None:
        if lm_docs is None:
            raise ValueError("pass lm_docs or a prebuilt lm")
        # one-shot: no persist — the caller gets no handle to release it
        lm = train_bigram_lm(lm_docs, persist=False)
    c12, v = lm
    bg = _doc_bigrams(docs, ["doc_id"])
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))

    # Pre-aggregate occurrences to (doc_id, w1, w2) -> count BEFORE the
    # scoring joins (r16, guide §2.3 "aggregate before you shuffle"): the
    # join and per-doc shuffles then move one row per DISTINCT bigram per
    # doc instead of one per occurrence — smaller by the per-doc
    # repetition factor, which grows with document length at corpus
    # scale. The sorted float fold stays BIT-IDENTICAL: the collected
    # (enc, count) structs sort by enc exactly like the old per-
    # occurrence array (duplicates were adjacent), and array_repeat
    # re-expands each enc to its original multiplicity before the fold,
    # so the log-sum runs over the identical sorted sequence
    # (tests/test_lm_score.py pins join == inline on fixture AND
    # synthetic edge docs).
    bgc = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    scored = (
        bgc.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("c12"), F.lit(0)).alias("c12"),
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            "_cnt",
        )
        .groupBy("doc_id")
        .agg(
            F.sum("_cnt").alias("n_bigrams"),
            F.sum(F.col("c12") * F.col("_cnt")).alias("sum_c12"),
            F.sum(
                F.when(F.col("c12") == 0, F.col("_cnt")).otherwise(F.lit(0))
            ).alias("n_oov"),
            F.flatten(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (F.col("c12") * _LM_ENC + F.col("c1")).alias(
                                    "e"
                                ),
                                F.col("_cnt").cast("int").alias("n"),
                            )
                        )
                    ),
                    lambda s: F.array_repeat(s["e"], s["n"]),
                )
            ).alias("_encs"),
        )
        .withColumn(
            "bigram_nll",
            F.round(
                -F.aggregate(
                    F.col("_encs"),
                    F.lit(0.0),
                    lambda acc, e: acc
                    + F.log(
                        (F.shiftright(e, 31) + 1)
                        / (e.bitwiseAND(F.lit(_LM_ENC - 1)) + F.lit(v))
                    ),
                )
                / F.col("n_bigrams"),
                4,
            ),
        )
        .drop("_encs")
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("sum_c12", F.lit(0)).alias("sum_c12"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            "bigram_nll",
        )
    )


def corpus_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-call corpus summary, long format (sect, key, value double):
    'size' rows (n_docs, total_words, total_chars, distinct_texts,
    exact_dup_rate), plus per-value doc counts for every low-cardinality
    string column present (lang, source — 'by_<col>' sections). The
    first look a pipeline owner takes at a new corpus, computed in one
    scan plus one tiny aggregate per section.

    NULL texts count as zero-word zero-char docs (they appear in
    n_docs, never in distinct_texts)."""
    words = F.size(
        F.coalesce(
            F.filter(_words(F.col(text_col)), lambda w: F.length(w) > 0),
            F.array().cast("array<string>"),
        )
    )
    base = df.select(
        words.alias("_nw"),
        F.coalesce(F.length(text_col), F.lit(0)).alias("_nc"),
        F.md5(text_col).alias("_h"),
        *[c for c in ("lang", "source") if c in df.columns],
    )
    size = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nw").alias("total_words"),
        F.sum("_nc").alias("total_chars"),
        F.count_distinct("_h").alias("distinct_texts"),
    ).selectExpr(
        "stack(5, 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'total_words', CAST(total_words AS DOUBLE),"
        " 'total_chars', CAST(total_chars AS DOUBLE),"
        " 'distinct_texts', CAST(distinct_texts AS DOUBLE),"
        " 'exact_dup_rate', CASE WHEN n_docs > 0 THEN"
        "   round(1.0 - distinct_texts / n_docs, 4) ELSE 0.0 END)"
        " AS (key, value)"
    ).select(F.lit("size").alias("sect"), "key", "value")
    out = size
    for c in ("lang", "source"):
        if c in df.columns:
            sec = (
                base.groupBy(c)
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.lit(f"by_{c}").alias("sect"),
                    F.coalesce(F.col(c), F.lit("<null>")).alias("key"),
                    F.col("n").cast("double").alias("value"),
                )
            )
            out = out.unionByName(sec)
    return out


def normalize_text(
    df: DataFrame,
    col: str = "text",
    form: str = "NFKC",
    strip_controls: bool = True,
) -> DataFrame:
    """Unicode-normalize a text column (NFC/NFKC/NFD/NFKD) and optionally
    strip control characters (category Cc except \\t \\n \\r) — the
    cleaning step that runs BEFORE hashing/dedup: visually identical
    strings in different normal forms ("é" composed vs "e"+combining
    accent) hash differently, so exact and near dedup silently miss
    them until the corpus is normalized.

    Spark SQL has no unicode-normalization builtin, so this is an
    Arrow-batched pandas UDF (one str.normalize pass per batch — the
    vectorized pandas path, not per-row Python). Every other column
    passes through; the column is replaced in place."""
    import unicodedata

    import pandas as pd

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def _norm_fn(s):
        out = s.str.normalize(form)
        if strip_controls:
            out = out.map(
                lambda t: None
                if t is None
                else "".join(
                    ch
                    for ch in t
                    if ch in "\t\n\r" or unicodedata.category(ch) != "Cc"
                )
            )
        return out

    # real class objects, not string hints: the module's `from
    # __future__ import annotations` would stringify inline hints and
    # pyspark's type inference can't resolve the function-local pd
    _norm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _norm = F.pandas_udf(_norm_fn, "string")
    return df.withColumn(col, _norm(F.col(col)))


# ---- Corpus quality filter (the composition step) -------------------------

# Default thresholds: the public-pipeline ballpark (Gopher/C4/CCNet
# class rules). Every threshold is a parameter — these are defaults,
# not truths.
QF_MIN_WORDS = 10
QF_MAX_JUNK = 0.3
QF_MAX_DUP_WORD = 0.5
QF_MAX_NLL = 12.0  # drop the high-perplexity tail when an LM is given


def quality_filter(
    docs: DataFrame,
    lm: tuple | None = None,
    min_words: int = QF_MIN_WORDS,
    max_junk: float = QF_MAX_JUNK,
    max_dup_word: float = QF_MAX_DUP_WORD,
    max_nll: float = QF_MAX_NLL,
    nll_col: str | None = None,
) -> DataFrame:
    """The pipeline composition step: every cheap per-doc quality signal
    plus (optionally) the bigram-LM perplexity, fused into one verdict
    per document — input columns + ``keep boolean`` + ``drop_reasons
    array<string>`` (empty when kept, every failed rule named when not:
    a filtered corpus you can't audit is a filtered corpus you can't
    debug).

    One scan for the per-row signals (the same fused-projection argument
    as the profile slot, and the same ``_words`` tokenization as the
    trainer/scorer — a diverging inline re-split is exactly the bug the
    BPE Unicode fix removed); the LM signal joins in only when ``lm``
    (from ``train_bigram_lm``) is provided — or, when the caller has
    ALREADY joined a per-doc nll column (the profile slot does),
    ``nll_col`` names it and the perplexity check reads it directly
    instead of re-running lm_score. Thresholds are parameters
    with public-pipeline defaults. NULL text is its own named reason:
    every other check is NULL for it, and a NULL condition filtered out
    of the reasons array would otherwise KEEP the document with an
    empty audit trail."""
    if lm is not None and nll_col is not None:
        raise ValueError("pass lm or nll_col, not both")
    words = _words(F.col("text"))
    n_words = F.size(words)
    junk = F.length(
        F.regexp_replace(F.lower("text"), "[a-z0-9 ]", "")
    ) / F.greatest(F.length("text"), F.lit(1))
    dup_word = F.when(
        n_words > 0, 1 - F.size(F.array_distinct(words)) / n_words
    ).otherwise(F.lit(0.0))

    out = docs
    checks = [
        ("null_text", F.col("text").isNull()),
        ("too_short", n_words < min_words),
        ("junk_ratio", junk > max_junk),
        ("repetitive", dup_word > max_dup_word),
    ]
    if lm is not None:
        out = out.join(
            lm_score(docs, lm=lm).select("doc_id", "bigram_nll"),
            "doc_id",
            "left",
        )
        checks.append(
            ("high_perplexity", F.col("bigram_nll") > max_nll)
        )
    elif nll_col is not None:
        checks.append(("high_perplexity", F.col(nll_col) > max_nll))
    reasons = F.filter(
        F.array(
            *[
                F.when(cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in checks
            ]
        ),
        lambda x: x.isNotNull(),
    )
    out = out.withColumn("drop_reasons", reasons).withColumn(
        "keep", F.size("drop_reasons") == 0
    )
    if lm is not None:
        out = out.drop("bigram_nll")
    return out


def _stopword_sql(lang: str) -> str:
    return "[" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def doc_profile_with_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats + quality score + language-ID + PII redaction
    profile, one row per doc: the full cheap pre-training document pass
    under one driver slot. Fused into a single projection over ONE scan —
    every half is an embarrassingly-parallel expression over the same
    row, so a join on doc_id (two scans + a shuffle) would be pure
    overhead. The PII columns (n_email/n_ip/n_phone/redacted_chars) come
    from the real ``redact_pii`` operator applied to a copy of the text
    column, so its sequential replace semantics (emails scrubbed before
    IP matching, IPs before phone matching) are what the oracle checks.

    The repetition columns are the standard public repetition-quality
    filters (duplicate-word / duplicate-bigram fractions a la the Gopher
    data pipeline): high values flag boilerplate and degenerate
    repetition before training. Pure expressions — size vs
    array_distinct size over the same split arrays.

    The split-word and bigram arrays are MATERIALIZED as columns before
    the stats projection: an expression tree referenced from many
    downstream expressions (and from inside HOF lambdas) is re-evaluated
    per reference, which measured 17.6s vs 0.4s at sf0.1 for the
    repetition pair alone. A dedicated Project keeps each array computed
    once per row; everything downstream reads the attribute."""
    from ..catalog import widen_narrow_scan

    # the whole slot is per-row expression work (regex chains, array
    # HOFs): a single-row-group fixture scan would run it all on one
    # core — widen_narrow_scan is a no-op wherever the scan has real
    # splits (catalog.py)
    docs = redact_pii(
        widen_narrow_scan(
            load_table(spark, sf_dir, "documents"),
            spark,
            table_key=(sf_dir, "documents"),
        ).withColumn("rtext", F.col("text")),
        col="rtext",
    ).withColumn("redacted_chars", F.length("rtext"))
    docs = docs.withColumn("_w", _words(F.col("text")))
    words = F.col("_w")
    docs = docs.withColumn("_bg", _bigram_strings(words))
    bigrams = F.col("_bg")
    n_chars = F.length("text")
    junk_ratio = F.length(F.regexp_replace(F.lower("text"), "[a-z0-9 ]", "")) / n_chars
    mean_wl = F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)) / F.size(words)
    score = (
        F.when((n_chars >= 100) & (n_chars <= 5000), 1).otherwise(0)
        + F.when(junk_ratio < 0.1, 1).otherwise(0)
        + F.when((mean_wl >= 3) & (mean_wl <= 10), 1).otherwise(0)
    )
    scores = {
        lang: F.size(F.filter(words, lambda w: w.isin(sw))).alias(f"score_{lang}")
        for lang, sw in STOPWORDS.items()
    }
    dup_word_frac = F.round(
        1 - F.size(F.array_distinct(words)) / F.size(words), 4
    )
    dup_bigram_frac = F.when(
        F.size(bigrams) > 0,
        F.round(1 - F.size(F.array_distinct(bigrams)) / F.size(bigrams), 4),
    ).otherwise(F.lit(0.0))
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(words).alias("n_words"),
        n_chars.alias("n_chars_actual"),
        F.round(junk_ratio, 4).alias("junk_ratio"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        score.alias("quality_score"),
        "n_email",
        "n_ip",
        "n_phone",
        "redacted_chars",
        dup_word_frac.alias("dup_word_frac"),
        dup_bigram_frac.alias("dup_bigram_frac"),
        n_chunks_expr(F.size(words)).alias("n_chunks"),
        F.least(
            F.lit(CHUNK_WORDS),
            F.size(words) - (n_chunks_expr(F.size(words)) - 1) * CHUNK_STRIDE,
        ).cast("long").alias("last_chunk_words"),
        *scores.values(),
        # carried for the inline LM path below; dropped before output
        "_bg",
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in STOPWORDS])
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in STOPWORDS:  # first-match-wins tie break, fixed lang order
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    # the bigram-LM columns are inherently relational (cross-doc corpus
    # counts): the MODEL is an aggregate over the trusted slice. But once
    # the model artifact is built (cached per (session, sf)), a small LM
    # scores as a pure per-row expression over the ALREADY-materialized
    # ``_bg`` bigram array — the r15 inline path drops the scoring
    # pipeline's explode + 2 broadcast joins + per-doc aggregate + the
    # final doc_id re-join from this slot's plan (18 -> 0 exchanges in
    # the profile subtree; plans/r15/text_doc_profile_*.txt). Large LMs
    # (past LM_INLINE_MAX_ENTRIES) keep the join shape — the path
    # decontamination uses.
    docs_raw = load_table(spark, sf_dir, "documents")
    lm = _lm_cached(spark, sf_dir)
    maps = _lm_maps(spark, sf_dir, lm)
    scored = scored.withColumn("pred_lang", pred)
    if maps is None:
        joined = scored.join(lm_score(docs_raw, lm=lm), "doc_id", "left").drop("_bg")
    else:
        # _encs gets its own Project before the four lm columns read it —
        # see _lm_encs's re-evaluation note
        with_encs = scored.withColumn("_encs", _lm_encs(F.col("_bg"), maps))
        joined = with_encs.withColumns(_lm_agg_cols(F.col("_encs"), lm[1])).drop(
            "_bg", "_encs"
        )
    # quality_filter rides the same pipeline (text carried through the
    # projection; the perplexity check reads the ALREADY-joined nll via
    # nll_col instead of re-running lm_score) — its fused keep verdict +
    # named drop reasons become oracle-gated columns (r4 verdict #3)
    qf = quality_filter(joined, nll_col="bigram_nll")
    return qf.select(
        *[c for c in joined.columns if c != "text"],
        F.col("keep").alias("qf_keep"),
        F.concat_ws(",", "drop_reasons").alias("qf_reasons"),
    )


QUERIES = {
    "text_doc_profile": doc_profile_with_lang,
    "text_token_count": token_count,
    "text_doc_fingerprint": fingerprint_and_pack,  # rows-only (hash sketch + pack)
    "text_top_terms_per_source": top_terms_and_bm25,
    "text_train_test_split": train_test_split,
}

_WORDS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

# Sequential-redaction oracle chain: each pattern counts against the text
# already scrubbed by the previous ones — redact_pii's exact semantics.
_T1 = f"regexp_replace(text, '{PII_PATTERNS['EMAIL']}', '[EMAIL]', 'g')"
_T2 = f"regexp_replace({_T1}, '{PII_PATTERNS['IP']}', '[IP]', 'g')"
_T3 = f"regexp_replace({_T2}, '{PII_PATTERNS['PHONE']}', '[PHONE]', 'g')"
# quality_filter's reasons array, DuckDB-side: same check order as the
# Spark checks list; CASE yields NULL for a non-firing (or NULL) check
# and list_filter drops it — mirroring F.when(...).otherwise(None) +
# F.filter. Referenced twice in the final select (keep + joined string).
_QF_LIST_SQL = f"""list_filter([
                   CASE WHEN _qf_null THEN 'null_text' END,
                   CASE WHEN _qf_short THEN 'too_short' END,
                   CASE WHEN _qf_junk THEN 'junk_ratio' END,
                   CASE WHEN _qf_rep THEN 'repetitive' END,
                   CASE WHEN l.bigram_nll > {QF_MAX_NLL} THEN 'high_perplexity' END
               ], x -> x IS NOT NULL)"""

_PII_COLS_SQL = f"""
                   len(regexp_extract_all(text, '{PII_PATTERNS['EMAIL']}')) AS n_email,
                   len(regexp_extract_all({_T1}, '{PII_PATTERNS['IP']}')) AS n_ip,
                   len(regexp_extract_all({_T2}, '{PII_PATTERNS['PHONE']}')) AS n_phone,
                   length({_T3}) AS redacted_chars"""

ORACLES = {
    "text_doc_profile": f"""
        WITH profile AS (
            SELECT doc_id,
                   len({_WORDS_SQL}) AS n_words,
                   length(text) AS n_chars_actual,
                   round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                         / length(text), 4) AS junk_ratio,
                   round(list_sum(list_transform({_WORDS_SQL}, w -> length(w)))
                         / len({_WORDS_SQL}), 4) AS mean_word_len,
                   (CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 1 ELSE 0 END
                    + CASE WHEN length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                                / length(text) < 0.1 THEN 1 ELSE 0 END
                    + CASE WHEN list_sum(list_transform({_WORDS_SQL}, w -> length(w)))
                                / len({_WORDS_SQL}) BETWEEN 3 AND 10 THEN 1 ELSE 0 END
                   ) AS quality_score,{_PII_COLS_SQL},
                   round(1 - len(list_distinct({_WORDS_SQL}))
                             / len({_WORDS_SQL}), 4) AS dup_word_frac,
                   CASE WHEN len({_WORDS_SQL}) >= 2 THEN
                        round(1 - len(list_distinct(list_transform(
                                  range(1, len({_WORDS_SQL})),
                                  i -> {_WORDS_SQL}[i] || ' ' || {_WORDS_SQL}[i+1])))
                               / (len({_WORDS_SQL}) - 1), 4)
                        ELSE 0.0 END AS dup_bigram_frac,
                   CAST(floor(greatest(len({_WORDS_SQL}) - {CHUNK_WORDS - CHUNK_STRIDE + 1}, 0)
                              / {CHUNK_STRIDE}) + 1 AS BIGINT) AS n_chunks,
                   CAST(least({CHUNK_WORDS},
                              len({_WORDS_SQL})
                              - floor(greatest(len({_WORDS_SQL}) - {CHUNK_WORDS - CHUNK_STRIDE + 1}, 0)
                                      / {CHUNK_STRIDE}) * {CHUNK_STRIDE})
                        AS BIGINT) AS last_chunk_words,
                   text IS NULL AS _qf_null,
                   len({_WORDS_SQL}) < {QF_MIN_WORDS} AS _qf_short,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                       / greatest(length(text), 1) > {QF_MAX_JUNK} AS _qf_junk,
                   (CASE WHEN len({_WORDS_SQL}) > 0
                         THEN 1 - len(list_distinct({_WORDS_SQL}))
                                  / len({_WORDS_SQL})
                         ELSE 0.0 END) > {QF_MAX_DUP_WORD} AS _qf_rep
            FROM documents
        ), scored AS (
            SELECT doc_id, lang,
                   len(list_filter({_WORDS_SQL}, w -> list_contains({_stopword_sql('en')}, w))) AS score_en,
                   len(list_filter({_WORDS_SQL}, w -> list_contains({_stopword_sql('de')}, w))) AS score_de,
                   len(list_filter({_WORDS_SQL}, w -> list_contains({_stopword_sql('fr')}, w))) AS score_fr,
                   len(list_filter({_WORDS_SQL}, w -> list_contains({_stopword_sql('es')}, w))) AS score_es
            FROM documents
        ), doc_bg AS (
            SELECT doc_id, lang,
                   unnest(CASE WHEN len({_WORDS_SQL}) >= 2 THEN
                       list_transform(range(1, len({_WORDS_SQL})),
                                      i -> {_WORDS_SQL}[i] || chr(1) || {_WORDS_SQL}[i+1])
                       ELSE [] END) AS bgk
            FROM documents
        ), lm_c12 AS (
            SELECT bgk, count(*) AS c12 FROM doc_bg
            WHERE lang = '{LM_LANG}' GROUP BY bgk
        ), lm_c1 AS (
            SELECT split_part(bgk, chr(1), 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
            FROM lm_c12 GROUP BY 1
        ), lm_v AS (
            SELECT count(DISTINCT split_part(bgk, chr(1), 2)) AS v FROM lm_c12
        ), lm_scored AS (
            SELECT b.doc_id,
                   count(*) AS n_bigrams,
                   CAST(sum(coalesce(c.c12, 0)) AS BIGINT) AS sum_c12,
                   CAST(sum(CASE WHEN c.c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                   round(-list_sum(list_transform(
                       list_sort(list(coalesce(c.c12, 0) * {_LM_ENC}
                                      + coalesce(c1.c1, 0))),
                       e -> ln(((e >> 31) + 1)
                               / CAST((e & {_LM_ENC - 1}) + v AS DOUBLE))))
                       / count(*), 4) AS bigram_nll
            FROM doc_bg b
            LEFT JOIN lm_c12 c USING (bgk)
            LEFT JOIN lm_c1 c1 ON c1.w1 = split_part(b.bgk, chr(1), 1)
            CROSS JOIN lm_v
            GROUP BY b.doc_id, v
        )
        SELECT p.* EXCLUDE (_qf_null, _qf_short, _qf_junk, _qf_rep),
               len({_QF_LIST_SQL}) = 0 AS qf_keep,
               coalesce(array_to_string({_QF_LIST_SQL}, ','), '')
                   AS qf_reasons,
               s.lang, s.score_en, s.score_de, s.score_fr, s.score_es,
               -- NULL text => NULL scores => NULL prediction (Spark's
               -- when-chain yields NULL; without this guard every
               -- comparison is NULL and the CASE falls through to 'es')
               CASE WHEN score_en IS NULL THEN NULL
                    WHEN greatest(score_en, score_de, score_fr, score_es) <= 0 THEN 'unknown'
                    WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                    WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                    WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                    ELSE 'es' END AS pred_lang,
               coalesce(l.n_bigrams, 0) AS n_bigrams,
               coalesce(l.sum_c12, 0) AS sum_c12,
               coalesce(l.n_oov, 0) AS n_oov,
               l.bigram_nll
        FROM profile p JOIN scored s USING (doc_id)
        LEFT JOIN lm_scored l USING (doc_id) ORDER BY doc_id
    """,
    "text_token_count": f"""
        WITH per_doc AS (
            SELECT source,
                   len({_WORDS_SQL}) AS ws,
                   len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS re_t,
                   substr(md5(CAST(doc_id AS VARCHAR) || '#0'), 1, 8) AS bh
            FROM documents
        ), tagged AS (
            SELECT 'all' AS tag, source, ws, re_t FROM per_doc
            UNION ALL
            SELECT 'sample_25', source, ws, re_t FROM per_doc
            WHERE bh < '{{sample_thr}}'
            UNION ALL
            SELECT 'mix', source, ws, re_t FROM per_doc
            WHERE bh < CASE source {{mix_cases}} END
        )
        SELECT tag, source,
               CAST(sum(ws) AS BIGINT) AS total_ws_tokens,
               CAST(sum(re_t) AS BIGINT) AS total_re_tokens,
               count(*) AS n_docs
        FROM tagged GROUP BY tag, source ORDER BY tag, source
    """,
    "text_train_test_split": f"""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct(sh_list)) AS shingle,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                        THEN 'train' ELSE 'test' END AS split
            FROM (
                SELECT doc_id,
                       CASE WHEN len(words) >= {DECONTAM_NGRAM}
                            THEN list_transform(
                                range(1, len(words) - {DECONTAM_NGRAM - 2}),
                                i -> concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4], words[i+5], words[i+6], words[i+7]))
                            ELSE [] END AS sh_list
                FROM (
                    SELECT doc_id,
                           regexp_split_to_array(lower(trim(text)), '\\s+') AS words
                    FROM documents
                )
            )
        ), leaky_docs AS (
            SELECT DISTINCT doc_id FROM sh
            WHERE shingle IN (
                SELECT shingle FROM sh
                GROUP BY shingle
                HAVING count(DISTINCT split) = 2
                   AND count(*) <= {DECONTAM_DF_CAP}
            )
        )
        SELECT CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'c'
                    THEN 'train' ELSE 'test' END AS split,
               d.lang,
               count(*) AS n_docs,
               CAST(sum(length(d.text)) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_leaky_docs
        FROM documents d LEFT JOIN leaky_docs l ON d.doc_id = l.doc_id
        GROUP BY 1, 2
    """,
    "text_top_terms_per_source": f"""
        WITH words AS (
            SELECT source, unnest({_WORDS_SQL}) AS term FROM documents
        ), counts AS (
            SELECT source, term, count(*) AS n_occurrences
            FROM words WHERE term <> '' GROUP BY source, term
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY n_occurrences DESC, term
            ) AS term_rank
            FROM counts
        ), bm_per_doc AS (
            SELECT doc_id, len(w) AS dl,
                   {', '.join(f"len(list_filter(w, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(BM25_QUERY_TERMS))}
            FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
        ), bm_stats AS (
            SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
                   {', '.join(f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(BM25_QUERY_TERMS)))}
            FROM bm_per_doc
        ), bm_scored AS (
            SELECT doc_id,
                   {' + '.join(f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
                               f" * (tf{i} * ({BM25_K1} + 1))"
                               f" / (tf{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))"
                               for i in range(len(BM25_QUERY_TERMS)))} AS score
            FROM bm_per_doc, bm_stats
            WHERE {' + '.join(f'tf{i}' for i in range(len(BM25_QUERY_TERMS)))} > 0
        )
        SELECT 'top' AS sect, source AS grp, term,
               CAST(term_rank AS INT) AS rnk, n_occurrences AS val
        FROM ranked WHERE term_rank <= {TOP_TERMS}
        UNION ALL
        SELECT * FROM (
            SELECT 'bm25' AS sect, 'corpus' AS grp,
                   CAST(doc_id AS VARCHAR) AS term,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk,
                   CAST(round(score * 10000, 0) AS BIGINT) AS val
            FROM bm_scored
            ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
        )
    """,
}


def _fill_sampling_thresholds() -> None:
    """Substitute the md5-hex keep thresholds into the token-count oracle
    from the same _hex_threshold the Spark side uses — one source of truth
    for the fraction->threshold rounding."""
    from .sampling import _hex_threshold

    ORACLES["text_token_count"] = ORACLES["text_token_count"].format(
        sample_thr=_hex_threshold(SAMPLE_FRACTION),
        mix_cases=" ".join(
            f"WHEN '{s}' THEN '{_hex_threshold(w)}'" for s, w in MIX_WEIGHTS.items()
        ),
    )


_fill_sampling_thresholds()


# Per-section bench attribution (r4 verdict #5) — see operators/dedup.py.
def _bpe_encode_section(s, d):
    docs = load_table(s, d, "documents")
    return bpe_encode(docs, _bpe_merges_cached(s, d))


def _pack_section(s, d):
    from .sampling import pack_documents

    return pack_documents(
        load_table(s, d, "documents"), "doc_id", "n_chars", PACK_MAX,
        group_col="source",
    )


SECTIONS = {
    "text_doc_fingerprint": {
        "fp": doc_fingerprint,
        "pack": _pack_section,
        "bpe_encode": _bpe_encode_section,
    },
    "text_doc_profile": {
        "lm_scores": bigram_lm_scores,
    },
}
