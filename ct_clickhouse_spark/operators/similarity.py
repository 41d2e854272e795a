"""Similarity search over embedding vectors (north star, SURVEY §2.10).

Four tiers, mirroring how ANN serving actually scales:
1. brute-force cosine top-k — exact baseline; O(n·d) per query, fully
   JVM-side (zip_with/aggregate), distributes perfectly (map + TakeOrdered)
2. all-pairs above threshold — exact, for offline dedup of small corpora
3. random-hyperplane LSH (SimHash for cosine) — the 100 TB path: 16-bit
   signatures via posexplode + broadcast hyperplane join, banded (4x4 bits)
   bucket-local candidate generation, exact cosine verification only on
   candidates. Recall/precision tuned by bits-per-band vs band count.
4. IVF (coarse quantizer + probed buckets) — the partition-pruning ANN
   path: assignment is a partition key, a probe reads 2/8 of the data.

The hyperplanes are pseudo-random ±1 vectors derived from xxhash64(bit,pos)
parity: deterministic across runs/engines with no RNG state to ship.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..catalog import load_table, table_rowcount

TOPK = 10
QUERY_VEC_ID = 0
PAIR_THRESHOLD = 0.42  # max pair cosine in the fixture is ~0.51
LSH_BITS = 16
EMBED_DIM = 64


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def _emb_double(df: DataFrame, out: str = "emb") -> DataFrame:
    return df.withColumn(out, F.col("embedding").cast("array<double>"))


def _dbl_array_sql(vals) -> str:
    """A double-array SQL literal via string-cast elements (repr is the
    shortest round-trip form, and CAST(string AS DOUBLE) parses it to
    the exact same IEEE double). Built as ONE parseable string because
    composing it from 64 F.lit Column objects costs ~200 ms of py4j
    round trips per query on the serving hot path — the plan, not the
    data, was the latency.

    Non-finite inputs are rejected (r12 advice): Python repr spells them
    'inf'/'nan', which CAST(string AS DOUBLE) silently NULLs in
    non-ANSI Spark (and errors under ANSI) — a degenerate zero-norm
    query vector would NULL every downstream score instead of carrying
    IEEE Infinity the way the old F.lit path did. Callers normalize by
    the query norm, so a non-finite weight is always a caller bug."""
    import math

    floats = [float(v) for v in vals]
    bad = [v for v in floats if not math.isfinite(v)]
    if bad:
        raise ValueError(
            f"_dbl_array_sql: non-finite element(s) {bad[:3]} — zero-norm "
            "or overflowing query vector reached the SQL-literal path"
        )
    return "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in floats) + ")"


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k against the vec_id=0 query vector.
    Broadcast the 1-row query side; TakeOrderedAndProject does the top-k."""
    emb = _emb_double(load_table(spark, sf_dir, "embeddings"))
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("emb").alias("qvec")
    )
    cos = _dot(F.col("emb"), F.col("qvec")) / (_norm(F.col("emb")) * _norm(F.col("qvec")))
    return (
        emb.crossJoin(F.broadcast(query))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(cos, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOPK)
    )


# Tile sizing for the exact GEMM tier. The kernel materializes a
# rows_a x rows_b similarity block, so rows-per-tile is the memory knob:
# 4096^2 float64 sims ≈ 134 MB per task, plus two 4096 x d tile inputs —
# comfortably inside one executor core's share at any corpus size.
GEMM_ROWS_PER_TILE = 4096
# Floor keeps small corpora spread over enough tasks to use local cores.
MIN_GEMM_BLOCKS = 4


def _gemm_blocks(n_rows: int) -> int:
    """Tiles per side for the blocked GEMM: ceil(n / rows-per-tile),
    floored at MIN_GEMM_BLOCKS. Grows linearly with the corpus so each
    task always holds two bounded tiles — the block count, not the tile
    size, absorbs data growth (shuffle replication is n·blocks rows, the
    classic O(n·sqrt(P)) blocked-GEMM tradeoff)."""
    return max(MIN_GEMM_BLOCKS, -(-n_rows // GEMM_ROWS_PER_TILE))


# Resolved query vectors, cached per (session, sf_dir) -> {vec_id: list}.
# Every point-ANN tier resolved its query vector with a per-request Spark
# job (parquet scan + 1-row collect) — measured as one of /similar's two
# sequential jobs (serving p50 363 ms vs the 95 ms relational floor,
# r11). A repeated query id is the serving common case, so the resolved
# row is cached driver-side: the hot path then runs exactly ONE Spark
# job (the routed tier). Unknown ids keep raising IndexError (the
# serving 404 contract) and are NOT negative-cached — a vector ingested
# later must become visible. Bounded at both levels like every sibling
# artifact cache.
#
# STALENESS ENFORCED (r13 verdict #5 — was a documented immutable-fixture
# assumption): this cache and the SQ8 caches below carry the
# `path_state` fingerprint of the embeddings path they were resolved
# from as their registry state; a fingerprint mismatch (a rewrite/
# compaction/mutation landed) invalidates the directory's artifacts and
# table memos, and re-resolves. The probe is a TTL-memoized directory
# fingerprint (_emb_state) — amortized noise next to the Spark job it
# guards.
QVEC_CACHE_MAX_IDS = 4096


# path_state on a directory-shaped table is a full os.walk + per-file
# stat — NOT "one os.stat per lookup" (r14 advice #3), and it sat on the
# serving hot path growing with file count per query. Memoized with a
# short TTL: the walk runs at most once per TTL per path, so staleness
# detection lags a mutation by <= _EMB_STATE_TTL_S (a freshly-landed
# rewrite is visible on the next tick) while the hot path pays a dict
# probe + one monotonic clock read.
_EMB_STATE_TTL_S = 1.0


def _emb_state(spark: SparkSession, sf_dir: str) -> tuple:
    import time as _time

    from ..catalog import path_state, table_path

    # [time of the last walk, its fingerprint], refreshed in place
    memo = artifacts.get_or_build(
        spark, "emb_state", (sf_dir,), lambda: [float("-inf"), None], max_entries=64
    )
    now = _time.monotonic()
    if now - memo[0] >= _EMB_STATE_TTL_S:
        memo[1] = path_state(table_path(sf_dir, "embeddings"))
        memo[0] = now
    return memo[1]


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int) -> list:
    vecs = artifacts.get_or_build(
        spark, "query_vectors", (sf_dir,), dict, state=_emb_state(spark, sf_dir)
    )
    v = vecs.get(vec_id)
    if v is None:
        v = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .collect()[0]  # IndexError on unknown id -> serving 404
            .embedding
        )
        while len(vecs) >= QVEC_CACHE_MAX_IDS:
            vecs.pop(next(iter(vecs)))
        vecs[vec_id] = v
    return v


def cosine_pairs(
    spark: SparkSession, sf_dir: str, blocks: int | None = None
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via block-tiled distributed GEMM.

    No driver collect, no full-matrix broadcast: vectors are hashed into
    ``blocks`` tiles (derived from the corpus row count by _gemm_blocks
    unless pinned); each unordered tile pair (bi <= bj) is one group
    task. A vector ships to every task its tile participates in (left side
    of (bi, *), right side of (*, bj)), so a pair (x, y) lands in exactly
    one task — (min(bx,by), max(bx,by)) — and the per-task kernel is a
    dense numpy GEMM over the two tiles. Shuffle volume is n·blocks
    rows (the classic O(n·sqrt(P)) blocked-GEMM replication), each task
    holds only two tiles — sized to executor memory, never the corpus.
    The LSH/IVF tiers below remain the sub-quadratic 100 TB paths; this is
    the exact tier done scale-honestly."""
    import numpy as np
    import pandas as pd

    if blocks is None:
        blocks = _gemm_blocks(table_rowcount(spark, sf_dir, "embeddings"))

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    block = F.pmod(F.xxhash64("vec_id"), F.lit(blocks)).alias("block")
    tiles = emb.select("vec_id", "embedding", block)

    tasks = spark.createDataFrame(
        [(bi * blocks + bj, bi, bj)
         for bi in range(blocks)
         for bj in range(bi, blocks)],
        "task int, bi int, bj int",
    )
    left = tiles.join(F.broadcast(tasks), tiles.block == tasks.bi).select(
        "task", F.lit("L").alias("side"), "vec_id", "embedding"
    )
    right = (
        tiles.join(
            F.broadcast(tasks.filter(F.col("bi") != F.col("bj"))),
            tiles.block == tasks.bj,
        ).select("task", F.lit("R").alias("side"), "vec_id", "embedding")
    )
    both = left.unionByName(right)

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        task = int(pdf["task"].iloc[0])
        diagonal = (task // blocks) == (task % blocks)
        l_mask = (pdf["side"] == "L").to_numpy()
        l_ids = pdf["vec_id"].to_numpy(dtype=np.int64)[l_mask]
        if l_ids.size == 0:
            return empty
        lm = np.array(pdf["embedding"][l_mask].tolist(), dtype=np.float64)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        if diagonal:  # one tile joined with itself
            r_ids, rm = l_ids, lm
        else:
            r_ids = pdf["vec_id"].to_numpy(dtype=np.int64)[~l_mask]
            if r_ids.size == 0:
                return empty
            rm = np.array(pdf["embedding"][~l_mask].tolist(), dtype=np.float64)
            rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = np.round(lm @ rm.T, 4)
        keep = sims >= PAIR_THRESHOLD
        if diagonal:
            # same id set on both axes: keep each unordered pair once
            keep &= l_ids[:, None] < r_ids[None, :]
        ai, bj = np.nonzero(keep)
        a_ids, b_ids = l_ids[ai], r_ids[bj]
        # off-diagonal tiles hold disjoint id sets and each unordered pair
        # lands in exactly one task; canonicalize to id_a < id_b on emit
        ia = np.minimum(a_ids, b_ids)
        ib = np.maximum(a_ids, b_ids)
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": sims[ai, bj]})

    return both.groupBy("task").applyInPandas(
        _kernel, "id_a long, id_b long, cosine double"
    )


def _hyperplanes(spark: SparkSession) -> DataFrame:
    """LSH_BITS x EMBED_DIM pseudo-random ±1 hyperplane components, derived
    from xxhash64 parity — a tiny broadcastable dim table built in-plan."""
    return spark.range(LSH_BITS).select(
        F.col("id").alias("bit"),
        F.explode(F.sequence(F.lit(0), F.lit(EMBED_DIM - 1))).alias("pos"),
    ).select(
        "bit",
        "pos",
        (F.when(F.pmod(F.xxhash64("bit", "pos"), 2) == 0, 1.0).otherwise(-1.0)).alias(
            "sign"
        ),
    )


def lsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit random-hyperplane signature per vector.

    posexplode(embedding) -> broadcast-join the hyperplane table ->
    groupBy(vec_id, bit) sum -> sign -> pack bits. Two hash aggregates,
    all JVM; scales linearly in n·d·bits."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    dots = (
        comps.join(F.broadcast(_hyperplanes(spark)), "pos")
        .groupBy("vec_id", "bit")
        .agg(F.sum(F.col("v") * F.col("sign")).alias("dot"))
    )
    return (
        dots.groupBy("vec_id")
        .agg(
            F.sum(
                F.when(F.col("dot") > 0, F.expr("shiftleft(1L, CAST(bit AS INT))")).otherwise(F.lit(0))
            ).alias("signature")
        )
    )


LSH_BANDS = 4  # minimum band count (4 bands x 4 bits at fixture scale)
LSH_TARGET_BUCKET = 512  # expected bucket membership the plan sizes for
LSH_MAX_BITS = 16  # per-band bucket bits ceiling (65,536 buckets/band)
LSH_REF_SIM = 0.9  # strong-dup similarity the recall law is preserved at


def _lsh_plan(n: int) -> tuple[int, int]:
    """Size-adaptive (bits_per_band, n_bands) for banded hyperplane LSH.

    Round-11 scale fix: the original fixed 4-bit bands give only 16
    buckets per band, so bucket MEMBERSHIP grows linearly with corpus
    size and the bucket-local exact-cosine verify grows quadratically —
    the sf10 shakeout measured the hyperplane section at 209.6 s for
    200k vectors (92x the 20k cost; 12.5k-vector buckets). Bits now grow
    with log2(n / LSH_TARGET_BUCKET), holding expected bucket size flat,
    and the band count is raised to keep candidate recall at
    LSH_REF_SIM >= the original (4, 4) plan's value (recall per pair is
    1-(1-p^bits)^bands with p = 1 - angle/pi, so more bits per band
    must be paid for with more bands). At n <= 8,192 this returns
    exactly (4, 4) — fixture/driver-scale plans are bit-identical to
    pre-r11. Beyond n = LSH_TARGET_BUCKET * 2^LSH_MAX_BITS (~33.5M
    vectors) buckets grow linearly again — raise LSH_TARGET_BUCKET
    there (bucket verify is GEMM work; a few-thousand-row bucket is
    cheap) rather than the bits cap."""
    import math

    min_bits = LSH_BITS // LSH_BANDS
    bits = min_bits
    if n > LSH_TARGET_BUCKET * (1 << min_bits):
        bits = min(LSH_MAX_BITS, math.ceil(math.log2(n / LSH_TARGET_BUCKET)))
    p = 1.0 - math.acos(LSH_REF_SIM) / math.pi
    ref_recall = 1.0 - (1.0 - p**min_bits) ** LSH_BANDS
    bands = max(
        LSH_BANDS,
        # the 1e-9 slack keeps ceil() from rounding the exact solution
        # up on float noise (at bits == min_bits the quotient IS 4.0)
        math.ceil(
            math.log(1.0 - ref_recall) / math.log(1.0 - p**bits) - 1e-9
        ),
    )
    return bits, bands


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN near-dup pairs: banded signature buckets, exact cosine verified
    *inside each bucket* — the canonical LSH shape. Recall per pair is
    1-(1-p^bits)^bands with p = 1 - angle/pi.

    Plan: per-band bucket keys from the banded hyperplane dots (two hash
    aggregates, all JVM) -> ONE shuffle grouping each bucket's vectors
    together -> a dense numpy kernel runs the exact all-pairs cosine
    within the bucket -> dropDuplicates on the pair key since a pair can
    collide in several bands. Bucket sizes are held ~flat across corpus
    sizes by _lsh_plan (bits grow with log2 n, bands compensate recall),
    so the bucket-local work stays sub-quadratic at 100 TB. No candidate
    self-join, no driver collect, no full-matrix broadcast. The global
    plane index gbit = band * bits + bit reproduces the original 16-bit
    signature slicing exactly at the fixture-scale (4, 4) plan."""
    import numpy as np
    import pandas as pd

    n = table_rowcount(spark, sf_dir, "embeddings")
    bits_per_band, n_bands = _lsh_plan(n)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    planes = (
        spark.range(n_bands * bits_per_band)
        .select(
            F.col("id").alias("gbit"),
            F.explode(F.sequence(F.lit(0), F.lit(EMBED_DIM - 1))).alias("pos"),
        )
        .select(
            "gbit",
            "pos",
            (
                F.when(F.pmod(F.xxhash64("gbit", "pos"), 2) == 0, 1.0).otherwise(
                    -1.0
                )
            ).alias("sign"),
        )
    )
    comps = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    dots = (
        comps.join(F.broadcast(planes), "pos")
        .groupBy("vec_id", "gbit")
        .agg(F.sum(F.col("v") * F.col("sign")).alias("dot"))
    )
    buckets = (
        dots.groupBy(
            "vec_id",
            (F.col("gbit") / bits_per_band).cast("int").alias("band"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("dot") > 0,
                    F.expr(
                        f"shiftleft(1L, CAST(pmod(gbit, {bits_per_band}) AS INT))"
                    ),
                ).otherwise(F.lit(0))
            ).alias("bucket")
        )
    )
    # buckets (n x bands rows) and emb (n rows x d-float arrays) both
    # scale with the corpus — above the plan's own knee, pin the join
    # off the broadcast path (same hazard as the minhash band self-join:
    # a plan-time underestimate of the aggregate-derived buckets side
    # statically broadcasts it) and off shuffle_hash (a hash build
    # cannot spill past task memory; the sorter can). Below the knee
    # Catalyst's pick is faster (r14: unconditional pins cost +1.5 s
    # across the LSH slots at sf0.1) — size-gated like dedup._merge_pin.
    lsh_knee = LSH_TARGET_BUCKET * (1 << (LSH_BITS // LSH_BANDS))
    pinned = buckets.hint("merge") if n > lsh_knee else buckets
    bands = pinned.join(emb, "vec_id").select(
        "vec_id", "embedding", "band", "bucket"
    )

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = np.round(m @ m.T, 4)
        keep = (sims >= PAIR_THRESHOLD) & (ids[:, None] < ids[None, :])
        ai, bj = np.nonzero(keep)
        return pd.DataFrame({"id_a": ids[ai], "id_b": ids[bj], "cosine": sims[ai, bj]})

    return (
        bands.groupBy("band", "bucket")
        .applyInPandas(_bucket_pairs, "id_a long, id_b long, cosine double")
        .dropDuplicates(["id_a", "id_b"])
    )


IVF_CLUSTERS = 8
IVF_PROBES = 2
IVF_ITERS = 2


SEMDEDUP_PROBES = 2  # top-P nearest cells per vector (multi-probe recall lever)


def semdedup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = PAIR_THRESHOLD,
    probes: int = SEMDEDUP_PROBES,
) -> DataFrame:
    """SemDeDup-style cluster-scoped near-dup pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): assign every vector to its ``probes`` nearest
    k-means centroids, then run the exact cosine all-pairs ONLY within
    each cell.

    The third pair source beside the exact GEMM and banded LSH, and the
    one the SemDeDup recipe uses in production: k is chosen so the mean
    cluster size stays constant (k ≈ n / target_size), making per-cell
    all-pairs O(n · probes² · target_size) total — linear in the corpus.
    Pairs are exact cosines (no false positives); the approximation is
    RECALL only — a pair is missed iff NO probed cell contains both ends.
    Multi-probe is the recall lever for boundary-straddling pairs (the
    same idea as IVF_PROBES on the search side): the fixture measures
    0.30 -> 0.85 pair recall going from 1 to 2 probes at the fixture's
    deliberately-weak 0.42 threshold; true semantic duplicates (cosine
    ~0.95+) sit far inside one cell. Recall floor test-pinned against
    the exact GEMM.

    Plan: centroids from the same distributed Lloyd trainer the IVF index
    uses (only k x d doubles ever reach the driver), broadcast; cell
    assignment is a map-side numpy top-P argsort emitting P rows per
    vector; ONE shuffle groups each cell; a dense numpy kernel scores
    within the cell; dropDuplicates on the pair key (a pair can co-occur
    in up to P cells) — strictly cell-local work, same shape as the LSH
    bucket kernel."""
    import numpy as np
    import pandas as pd

    cents = _ivf_centroids(spark, sf_dir)
    bc = spark.sparkContext.broadcast(cents)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _assign(batches):
        c = bc.value
        p = min(probes, c.shape[0])
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            # top-P cells via argpartition: O(k) per row where k is the
            # SemDeDup scale knob (k ~ n/target_size); cell order within
            # the probe set is irrelevant — both cells are probed
            sims = m @ c.T
            top = (
                np.argpartition(-sims, p - 1, axis=1)[:, :p]
                if p < c.shape[0]
                else np.tile(np.arange(c.shape[0]), (len(pdf), 1))
            )
            idx = np.repeat(np.arange(len(pdf)), p)
            out = pdf.iloc[idx][["vec_id", "embedding"]].copy()
            out.insert(0, "cluster", top.ravel())
            yield out

    assigned = emb.mapInPandas(
        _assign, "cluster int, vec_id long, embedding array<float>"
    )
    return _cell_scoped_pairs(assigned, threshold)


def _cell_scoped_pairs(assigned: DataFrame, threshold: float) -> DataFrame:
    """The shared cell-local pair kernel: exact cosine all-pairs strictly
    WITHIN each ``cluster`` group of an (cluster, vec_id, embedding)
    frame — one shuffle groups each cell, a dense numpy kernel scores it,
    dropDuplicates collapses pairs co-probed into several cells. Used by
    both the k-means SemDeDup assignment and the deterministic grid-cell
    assignment the driver gate rides."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = np.round(m @ m.T, 4)
        keep = (sims >= threshold) & (ids[:, None] < ids[None, :])
        ai, bj = np.nonzero(keep)
        return pd.DataFrame({"id_a": ids[ai], "id_b": ids[bj], "cosine": sims[ai, bj]})

    return (
        assigned.groupBy("cluster")
        .applyInPandas(_cluster_pairs, "id_a long, id_b long, cosine double")
        .dropDuplicates(["id_a", "id_b"])
    )


# Deterministic SQL-portable cell assignment for the driver gate: cell =
# the sign bits of the first _grid_bits(n) embedding components. The
# k-means cells SemDeDup uses in production are deterministic but not
# ANSI-SQL-expressible (Lloyd iterations), so the hard gate runs the SAME
# cell-scoped machinery — assignment -> within-cell exact-cosine pairs ->
# connected components -> keeper per group — over cells DuckDB can
# recompute, while the k-means recall/soundness properties stay
# pytest-gated (tests/test_semdedup.py).
#
# The bit count ADAPTS to the corpus (round 6 — the sf1 bench measured
# 44 s for this section under the old fixed 3 bits: 8 cells of 2500
# vectors each is a quadratic kernel regrowing the very problem
# _adaptive_clusters solves for the k-means path). Same rule as there —
# hold mean cell size ~SEMDEDUP_TARGET_CELL — but in INTEGER-EXACT form
# both engines compute identically (no float log at a boundary):
# bits = GRID_CELL_BITS + #{b in [GRID_CELL_BITS, GRID_MAX_BITS):
#                           n > SEMDEDUP_TARGET_CELL * 2^b}.
# Every fixture SF has n <= 8192 => bits = 3, so driver hashes are
# unchanged; sf1's 20k vectors get 5 bits (32 cells, ~625/cell).
GRID_CELL_BITS = 3
GRID_MAX_BITS = 12


def _grid_bits(n: int) -> int:
    return GRID_CELL_BITS + sum(
        1
        for b in range(GRID_CELL_BITS, GRID_MAX_BITS)
        if n > SEMDEDUP_TARGET_CELL << b
    )


def _grid_cell_col(bits: int):
    cell = F.lit(0)
    for j in range(bits):
        cell = cell + F.when(
            F.element_at(F.col("embedding"), j + 1) >= 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return cell.cast("int")


def grid_cell_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = PAIR_THRESHOLD
) -> DataFrame:
    """Cell-scoped exact-cosine pairs over the deterministic sign-bit
    grid cells — the oracle-replayable stand-in for the k-means cell
    assignment, sharing ``_cell_scoped_pairs`` verbatim."""
    table = load_table(spark, sf_dir, "embeddings")
    bits = _grid_bits(table_rowcount(spark, sf_dir, "embeddings"))
    emb = table.select(
        _grid_cell_col(bits).alias("cluster"), "vec_id", "embedding"
    )
    return _cell_scoped_pairs(emb, threshold)


def semantic_dedup_groups(
    spark: SparkSession, sf_dir: str, threshold: float = PAIR_THRESHOLD
) -> DataFrame:
    """SemDeDup end-to-end: cluster-scoped pairs -> connected components
    -> one keeper per group. Same output contract as
    embedding_dedup_groups (vec_id, canonical_id, is_keeper)."""
    return embedding_dedup_groups(
        spark,
        sf_dir,
        pairs_fn=lambda s, d: semdedup_pairs(s, d, threshold=threshold),
    )


# SemDeDup's linearity argument requires the MEAN CELL SIZE to stay
# constant as the corpus grows (k ≈ n / target_size — Abbas et al. §2);
# a fixed k would let the per-cell all-pairs kernel grow quadratically
# with the corpus (at 100x fixture scale a fixed k=8 means ~50k-row
# cells = 20 GB sims matrices). The cluster count therefore adapts to
# the corpus: k = max(IVF_CLUSTERS, ceil(n / SEMDEDUP_TARGET_CELL)) —
# identical to the fixed k at every fixture SF (n <= 8 * 1024), growing
# only when cells would otherwise outgrow their kernel budget.
SEMDEDUP_TARGET_CELL = 1024


def _adaptive_clusters(n_vectors: int) -> int:
    return max(IVF_CLUSTERS, -(-n_vectors // SEMDEDUP_TARGET_CELL))


def _ivf_centroids(spark: SparkSession, sf_dir: str):
    """Distributed deterministic k-means-lite coarse quantizer.

    Seeds = the k lowest vec_ids (an orderBy(vec_id).limit(k) — only k
    rows ever reach the driver; k is size-adaptive, see
    _adaptive_clusters), then IVF_ITERS Lloyd iterations where
    assignment + per-cluster mean run as a distributed mapInPandas
    partial-sum + tiny (k x d)-row final aggregate; each iteration
    collects exactly k centroids. Centroid components are rounded to 9
    decimals per iteration so cross-partition FP summation order cannot
    leak into assignments — keeping the index deterministic at any
    parallelism. Nothing larger than k x d doubles is ever centralized,
    at any corpus size. Trained once per (session, sf): deterministic, so
    every consumer would retrain the identical array: the IVF build, the
    SemDeDup assignment and per-call ivf_topk."""
    return artifacts.get_or_build(
        spark, "centroids", (sf_dir,), lambda: _train_ivf_centroids(spark, sf_dir)
    )


def _train_ivf_centroids(spark: SparkSession, sf_dir: str):
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_clusters = _adaptive_clusters(table_rowcount(spark, sf_dir, "embeddings"))
    seed_rows = emb.orderBy("vec_id").limit(n_clusters).collect()
    cents = np.array([r.embedding for r in seed_rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    for _ in range(IVF_ITERS):
        bc = spark.sparkContext.broadcast(cents)

        def _partial(batches):
            c = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                m /= np.linalg.norm(m, axis=1, keepdims=True)
                assign = np.argmax(m @ c.T, axis=1)
                out = []
                for cl in np.unique(assign):
                    members = m[assign == cl]
                    out.append(
                        {
                            "cluster": int(cl),
                            "n": len(members),
                            "vsum": members.sum(axis=0).tolist(),
                        }
                    )
                yield pd.DataFrame(out, columns=["cluster", "n", "vsum"])

        partials = emb.mapInPandas(
            _partial, "cluster int, n long, vsum array<double>"
        )
        # final combine: explode the k-vector partials to (cluster, pos)
        # cells, sum, pivot back — a k*d-row aggregate, trivially small
        totals = (
            partials.select(
                "cluster", "n", F.posexplode("vsum").alias("pos", "v")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("v"), F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("n"))
            .collect()
        )
        counts = {r.cluster: r.n for r in totals if r.pos == 0}
        new = cents.copy()
        for cl, cnt in counts.items():
            if not cnt:
                continue
            vec = np.zeros(cents.shape[1])
            for r in totals:
                if r.cluster == cl:
                    vec[r.pos] = r.v
            m = vec / cnt
            new[cl] = m / (np.linalg.norm(m) or 1.0)
        cents = np.round(new, 9)
        bc.destroy()
    return cents


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    n_probes: int | None = None,
    k: int = TOPK,
) -> DataFrame:
    """IVF approximate top-k (the other classic ANN scale path, besides
    LSH): vectors are bucketed by nearest coarse centroid; the query
    probes only its ``n_probes`` (default IVF_PROBES) closest buckets
    and runs exact cosine there. At scale the assignment is a partition
    key — the probe reads n_probes/IVF_CLUSTERS of the data instead of
    all of it. Training is distributed (see _ivf_centroids); only the k
    centroids and the single query vector are broadcast."""
    import numpy as np
    import pandas as pd

    if n_probes is not None and n_probes < 1:
        raise ValueError(f"n_probes must be >= 1, got {n_probes}")
    cents = _ivf_centroids(spark, sf_dir)
    qvec = np.array(_query_vector(spark, sf_dir, query_vec_id), dtype=np.float64)
    qvec /= np.linalg.norm(qvec)
    probe = set(
        np.argsort(-(cents @ qvec))[
            : (IVF_PROBES if n_probes is None else n_probes)
        ].tolist()
    )
    bc_cents = spark.sparkContext.broadcast((cents, probe, qvec))

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")

    def _search(batches):
        cents_, probe_, q = bc_cents.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            assign = np.argmax(m @ cents_.T, axis=1)
            in_probe = np.isin(assign, list(probe_)) & (
                pdf["vec_id"].to_numpy() != query_vec_id
            )
            if not in_probe.any():
                continue
            sims = np.round(m[in_probe] @ q, 4)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[in_probe],
                    "label": pdf["label"].to_numpy()[in_probe],
                    "cosine": sims,
                }
            )

    return (
        emb.mapInPandas(_search, "vec_id long, label int, cosine double")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )


def ivf_topk_batch(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    k: int = TOPK,
    probes: int = 2,
) -> DataFrame:
    """Batched ANN: top-k nearest corpus vectors for MANY query vectors
    in one distributed pass — the ANN *serving* shape (a retrieval batch,
    a dedup increment, a labeling job), where the per-query ivf_topk
    driver loop would pay one Spark job per query.

    ``queries``: (query_id long, embedding array<float>). Returns
    (query_id, rank, vec_id, label, cosine) with rank 1..k per query.

    Plan: queries assign map-side to their ``probes`` nearest coarse
    cells (the multi-probe recall lever); corpus vectors assign to their
    one home cell (the same rule the persisted index materializes as a
    partition key). ONE shuffle co-locates each cell's corpus slice with
    the queries probing it; a dense numpy kernel scores cell-locally and
    emits each query's local top-k; a final window keeps the global
    top-k per query. Nothing all-pairs: cost is
    O(n_queries * probes * cell_size * d) kernel work + one shuffle of
    corpus + query rows — and cells stay bounded because the cluster
    count is size-adaptive (_adaptive_clusters). Exactness caveat is
    IVF's usual one: recall only (a neighbor is missed iff its home cell
    is unprobed), pytest-pinned against the brute-force tier."""
    import numpy as np
    import pandas as pd

    cents = _ivf_centroids(spark, sf_dir)
    bc = spark.sparkContext.broadcast(cents)

    def _assign_queries(batches):
        c = bc.value
        p = min(probes, c.shape[0])
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            top = (
                np.argpartition(-(m @ c.T), p - 1, axis=1)[:, :p]
                if p < c.shape[0]
                else np.tile(np.arange(c.shape[0]), (len(pdf), 1))
            )
            idx = np.repeat(np.arange(len(pdf)), p)
            out = pdf.iloc[idx][["query_id", "embedding"]].copy()
            out.insert(0, "cluster", top.ravel())
            out.insert(1, "is_query", True)
            out.insert(2, "vec_id", -1)
            out.insert(3, "label", -1)
            yield out[["cluster", "is_query", "vec_id", "label", "query_id", "embedding"]]

    def _assign_corpus(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            out = pdf[["vec_id", "label", "embedding"]].copy()
            out.insert(0, "cluster", np.argmax(m @ c.T, axis=1))
            out.insert(1, "is_query", False)
            out.insert(4, "query_id", -1)
            yield out[["cluster", "is_query", "vec_id", "label", "query_id", "embedding"]]

    shape = (
        "cluster int, is_query boolean, vec_id long, label int, "
        "query_id long, embedding array<float>"
    )
    q = queries.select("query_id", "embedding").mapInPandas(_assign_queries, shape)
    corpus = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).mapInPandas(_assign_corpus, shape)

    empty = pd.DataFrame(
        {"query_id": [], "vec_id": [], "label": [], "cosine": []}
    )

    def _cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qm = pdf[pdf["is_query"]]
        cm = pdf[~pdf["is_query"]]
        if qm.empty or cm.empty:
            return empty
        qv = np.array(qm["embedding"].tolist(), dtype=np.float64)
        qv /= np.linalg.norm(qv, axis=1, keepdims=True)
        cv = np.array(cm["embedding"].tolist(), dtype=np.float64)
        cv /= np.linalg.norm(cv, axis=1, keepdims=True)
        sims = np.round(qv @ cv.T, 4)
        kk = min(k, sims.shape[1])
        # local top-k per query within this cell — bounded output
        top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
        rows = np.repeat(np.arange(len(qm)), kk)
        cols = top.ravel()
        return pd.DataFrame(
            {
                "query_id": qm["query_id"].to_numpy()[rows],
                "vec_id": cm["vec_id"].to_numpy()[cols],
                "label": cm["label"].to_numpy()[cols],
                "cosine": sims[rows, cols],
            }
        )

    from pyspark.sql.window import Window

    cand = (
        q.unionByName(corpus)
        .groupBy("cluster")
        .applyInPandas(
            _cell_topk, "query_id long, vec_id long, label int, cosine double"
        )
        # a vector reachable through several probed cells appears once
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "label", "cosine")
    )


def embedding_incremental_pairs(
    spark: SparkSession,
    sf_dir: str,
    batch_ids: DataFrame,
    threshold: float = PAIR_THRESHOLD,
    probes: int = 2,
) -> DataFrame:
    """Embedding-side incremental dedup: for a NEW ingest batch (given
    by its ``vec_id`` rows), find each batch vector's near-duplicates in
    the EXISTING corpus — (batch_id, corpus_id, cosine) with cosine >=
    threshold and corpus_id outside the batch. ``batch.join(result,
    'left_anti')`` is then the vectors safe to ingest — the same
    increment-vs-corpus shape the exact-hash `incremental_dedup` gives
    text, for the semantic near-dup case an exact hash can't catch.

    Routed through the batched ANN pass (ivf_topk_batch): probes-cells
    recall semantics, one shuffle, cell-local kernels — never
    batch x corpus. Top-k bounds each batch vector's candidate list;
    k >= probes * expected dups suffices since only >=threshold rows
    survive."""
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.join(batch_ids, "vec_id", "left_semi").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    hits = ivf_topk_batch(spark, sf_dir, batch, probes=probes)
    return (
        hits.join(
            batch_ids.select(F.col("vec_id").alias("_b")),
            hits.vec_id == F.col("_b"),
            "left_anti",
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("query_id").alias("batch_id"),
            F.col("vec_id").alias("corpus_id"),
            "cosine",
        )
    )


def ivf_build(spark: SparkSession, sf_dir: str, index_path: str) -> None:
    """Materialize the IVF index: train the coarse quantizer once, then
    write (a) the k centroids and (b) every vector under its assigned
    cluster as a Hive PARTITION column. This is the piece ivf_topk's
    per-call shape lacks at scale: with assignments on disk, a probe is
    PARTITION PRUNING — the scan physically reads IVF_PROBES/IVF_CLUSTERS
    of the corpus and nothing else, and training cost is paid once, not
    per query."""
    import numpy as np
    import pandas as pd

    cents = _ivf_centroids(spark, sf_dir)
    (
        spark.createDataFrame(
            [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
            "cluster int, centroid array<double>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(index_path + "/centroids")
    )
    bc = spark.sparkContext.broadcast(cents)

    def _assign(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            out = pdf[["vec_id", "label", "embedding"]].copy()
            out["cluster"] = np.argmax(m @ c.T, axis=1).astype("int32")
            yield out

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    (
        emb.mapInPandas(
            _assign, "vec_id long, label int, embedding array<float>, cluster int"
        )
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(index_path + "/vectors")
    )


def ivf_probe(
    spark: SparkSession,
    index_path: str,
    query_vec,
    k: int = TOPK,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k over the persisted IVF index: rank centroids on the driver
    (k rows), then scan ONLY the probed cluster partitions (the filter on
    the partition column prunes at planning time — verify PartitionFilters
    in .explain) and run exact cosine there. ``exclude_vec_id`` drops one
    id before the top-k (the query vector itself, for self-search)."""
    import numpy as np
    import pandas as pd

    from ..catalog import path_state

    # the centroid table is part of the persisted index ARTIFACT
    # (immutable once built — rebuilds land in a fresh tmpdir), so the
    # per-call collect job it cost (~0.6 s/probe: one scheduling-floor
    # Spark job to fetch n_cells rows) is memoized per (session, index
    # path, path_state fingerprint); driver-side centroid RANKING below
    # stays per-call (it depends on the query).
    def build():
        rows = spark.read.parquet(index_path + "/centroids").orderBy("cluster").collect()
        return np.array([r.centroid for r in rows], dtype=np.float64)

    cents = artifacts.get_or_build(
        spark, "ivf_probe_centroids",
        (index_path, path_state(index_path + "/centroids")), build,
    )
    q = np.array(query_vec, dtype=np.float64)
    q /= np.linalg.norm(q)
    probe = [int(c) for c in np.argsort(-(cents @ q))[:IVF_PROBES]]
    bq = spark.sparkContext.broadcast(q)

    def _score(batches):
        qv = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "cosine": np.round(m @ qv, 4),
                }
            )

    vectors = spark.read.parquet(index_path + "/vectors").filter(
        F.col("cluster").isin(probe)
    )
    if exclude_vec_id is not None:
        vectors = vectors.filter(F.col("vec_id") != exclude_vec_id)
    return (
        vectors.select("vec_id", "label", "embedding")
        .mapInPandas(_score, "vec_id long, label int, cosine double")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )


def ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-slot IVF query: build the persisted index ONCE per
    (session, sf-dir) via ivf_build, then answer through ivf_probe — so
    the driver row exercises the partition-pruned path (PartitionFilters
    on the cluster column, test-asserted in tests/test_ivf_index.py)
    instead of retraining centroids per call. Same output contract as
    ivf_topk: top-k against the vec_id=0 query vector, query excluded.

    The cached object is the index path, not data; repeated probes pay
    the partition-pruned scan only, exactly the at-scale serving shape.
    The dir is removed on eviction and at interpreter exit."""

    def build() -> str:
        path = artifacts.mkdtemp("ivf_index_")
        ivf_build(spark, sf_dir, path)
        return path

    path = artifacts.get_or_build(
        spark, "ivf_index", (sf_dir,), build, release=artifacts.remove_dir
    )
    qvec = _query_vector(spark, sf_dir, QUERY_VEC_ID)
    return ivf_probe(spark, path, qvec, exclude_vec_id=QUERY_VEC_ID)


# --- SQ8 scalar quantization (FAISS-SQ8 analog) -------------------------
# The third classic ANN memory/scale lever next to LSH and IVF: store each
# normalized vector as d int8 codes (8x smaller than float64, 4x smaller
# than float32), score approximately IN THE CODE DOMAIN with pure JVM
# expressions, and re-rank only a small candidate set exactly. At 100 TB
# the scan/shuffle byte volume — not FLOPs — is the bottleneck this buys
# back; quantization error is bounded by scale_d/2/127 per dimension.
SQ8_LEVELS = 127
SQ8_REFINE = 4  # candidates fetched per final result before exact re-rank


def sq8_quantize(
    emb_df: DataFrame, emb_col: str = "embedding"
) -> tuple[DataFrame, list[float]]:
    """Symmetric per-dimension scalar quantization of NORMALIZED vectors.

    ``emb_df`` is any table with a float-array column ``emb_col``
    (cast to double internally); every other column passes through.
    Returns ``(codes_df, scales)``: codes_df is (passthrough cols...,
    codes array<tinyint>) with code_d = round(x_d / scale_d * 127) for
    the L2-normalized vector, and scales is the d-vector of
    per-dimension max |x_d| (driver-held: d scalars, bounded by the
    embedding width — never by corpus size). Normalizing BEFORE
    quantizing makes the approximate dot product approximate the cosine
    directly."""
    keep = [c for c in emb_df.columns if c != emb_col]
    emb = (
        emb_df.withColumn(
            "_emb_d", F.transform(F.col(emb_col), lambda x: x.cast("double"))
        )
        .withColumn("_nrm", _norm(F.col("_emb_d")))
        .withColumn("nemb", F.transform(F.col("_emb_d"), lambda x: x / F.col("_nrm")))
    )
    scale_rows = (
        emb.select(F.posexplode("nemb").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("v"))).alias("s"))
        .orderBy("pos")
        .collect()
    )
    scales = [float(r.s) if r.s else 1.0 for r in scale_rows]
    lit_scales = F.array(*[F.lit(s) for s in scales])
    codes = emb.select(
        *keep,
        F.zip_with(
            F.col("nemb"),
            lit_scales,
            lambda x, sc: F.round(x / sc * SQ8_LEVELS).cast("tinyint"),
        ).alias("codes"),
    )
    return codes, scales


def _sq8_persisted(emb: DataFrame) -> tuple[DataFrame, list[float]]:
    codes, scales = sq8_quantize(emb)
    return codes.persist(), scales


def _sq8_cached(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[float]]:
    # same `path_state` staleness enforcement as the query vectors
    return artifacts.get_or_build(
        spark, "sq8", (sf_dir,),
        lambda: _sq8_persisted(load_table(spark, sf_dir, "embeddings")),
        release=lambda v: v[0].unpersist(), state=_emb_state(spark, sf_dir),
    )


def _sq8_serving_index(spark: SparkSession, sf_dir: str):
    """The SERVING layout of the SQ8 index: codes co-located with the
    result payload (label) AND the original vector — the classic ANN
    serving trade (FAISS-style indexes keep re-rank vectors beside the
    codes). Scanning it reads ~9x the bytes of the codes-only frame, but
    the whole point lookup becomes ONE distributed job: approximate
    TakeOrdered returns candidates WITH their vectors, and the exact
    re-rank of k*refine rows runs driver-side. The codes-only
    sq8_topk remains the scan-compression shape for batch/analytics.
    Same `path_state` staleness enforcement as the query vectors."""
    return artifacts.get_or_build(
        spark, "sq8_serving", (sf_dir,),
        lambda: _sq8_persisted(
            load_table(spark, sf_dir, "embeddings").withColumn(
                "embedding_raw", F.col("embedding")
            )
        ),
        release=lambda v: v[0].unpersist(), state=_emb_state(spark, sf_dir),
    )


def _round_half_up4(x: float) -> float:
    """Spark's round(double, 4): BigDecimal.valueOf(double) — the
    SHORTEST decimal representation (python repr), NOT the exact binary
    expansion — rounded HALF_UP at 4 decimals. The distinction is real:
    0.00035 stores as 0.000349999...97, whose exact expansion rounds
    DOWN while its shortest form "0.00035" rounds UP, and Spark takes
    the shortest form. Pinned against the in-plan expression by
    tests/test_sq8_serving.py."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _sq8_serving_scored(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOPK,
    refine: int = SQ8_REFINE,
    query_vec_id: int = QUERY_VEC_ID,
) -> list[tuple]:
    """The single-job SQ8 point lookup (see sq8_topk_serving), returning
    plain (vec_id, label, cosine) tuples: one TakeOrdered job over the
    payload-carrying index (approx score from the codes, exactly as
    sq8_topk computes it), then the exact re-rank of the k*refine
    candidates DRIVER-side with bit-identical arithmetic — python's
    left-to-right sum reproduces aggregate()'s fold order over the same
    doubles, sqrt is IEEE-exact on both sides, and _round_half_up4 is
    Spark's round."""
    codes, scales = _sq8_serving_index(spark, sf_dir)
    qrow = _query_vector(spark, sf_dir, query_vec_id)
    qn = sum(x * x for x in qrow) ** 0.5
    if qn <= 0.0:  # zero vector: every cosine is undefined, not 'low'
        raise ValueError(f"query vector {query_vec_id} has zero norm")
    qnorm = [x / qn for x in qrow]
    weights = [
        round(q / s * SQ8_LEVELS) * s * s / (SQ8_LEVELS * SQ8_LEVELS)
        for q, s in zip(qnorm, scales)
    ]
    approx = F.expr(
        f"aggregate(zip_with(codes, {_dbl_array_sql(weights)}, "
        "(c, w) -> c * w), 0.0D, (s, v) -> s + v)"
    )
    cand = (
        codes.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", "embedding_raw", approx.alias("a"))
        .orderBy(F.col("a").desc(), "vec_id")
        .limit(k * refine)
        .collect()
    )
    scored = []
    for r in cand:
        dot = 0.0
        nrm = 0.0
        for x, y in zip(r.embedding_raw, qrow):
            dot += x * y
            nrm += x * x
        cos = _round_half_up4(dot / (nrm**0.5 * qn))
        scored.append((int(r.vec_id), int(r.label), cos))
    scored.sort(key=lambda t: (-t[2], t[0]))
    return scored[:k]


def sq8_topk_serving(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOPK,
    refine: int = SQ8_REFINE,
    query_vec_id: int = QUERY_VEC_ID,
) -> DataFrame:
    """sq8_topk's serving twin as a DataFrame — rows identical to
    sq8_topk by construction (tests/test_sq8_serving.py pins it per
    query id). The HTTP endpoint skips this wrapper and takes the raw
    tuples (ann_topk_auto_rows): createDataFrame on 10 rows costs a
    full extra job (~500 ms measured), which would give back everything
    the single-job shape saves."""
    return spark.createDataFrame(
        _sq8_serving_scored(spark, sf_dir, k, refine, query_vec_id),
        "vec_id long, label int, cosine double",
    )


def ann_topk_auto_rows(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOPK,
    query_vec_id: int = QUERY_VEC_ID,
    target_recall: float = 0.9,
) -> list[list]:
    """ann_topk_auto for the serving layer, returning JSON-ready rows
    ([vec_id, label, cosine]) without a result DataFrame round trip.
    SQ8 route: the single-job driver re-rank; IVF route: the probed
    index query, collected."""
    probe = ann_regime_probe(spark, sf_dir, k=k, target_recall=target_recall)
    if probe["route"] == "ivf":
        df = ivf_topk(
            spark,
            sf_dir,
            query_vec_id=query_vec_id,
            n_probes=probe["probes_for_target"],
            k=k,
        )
        return [list(t) for t in (tuple(r) for r in df.collect())]
    return [
        list(t) for t in _sq8_serving_scored(spark, sf_dir, k, SQ8_REFINE, query_vec_id)
    ]


def sq8_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOPK,
    refine: int = SQ8_REFINE,
    query_vec_id: int = QUERY_VEC_ID,
) -> DataFrame:
    """SQ8 approximate top-k against the vec_id=0 query vector.

    Plan: (1) approximate cosine = sum(code_d * w_d) over the int8 codes,
    where w_d folds the query's code and both scale factors — ONE
    zip_with/aggregate pair in whole-stage codegen, no Python; (2)
    TakeOrdered k*refine candidates by approximate score; (3) exact
    cosine re-rank of only those candidates (broadcast of k*refine ids).
    Recall is pytest-gated against the exact brute-force tier."""
    codes, scales = _sq8_cached(spark, sf_dir)
    qrow = _query_vector(spark, sf_dir, query_vec_id)
    qn = sum(x * x for x in qrow) ** 0.5
    if qn <= 0.0:  # zero vector: every cosine is undefined, not 'low'
        raise ValueError(f"query vector {query_vec_id} has zero norm")
    qnorm = [x / qn for x in qrow]
    # w_d = q_code_d * scale_d^2 / 127^2, so sum(code_d * w_d) ~= cosine
    weights = [
        round(q / s * SQ8_LEVELS) * s * s / (SQ8_LEVELS * SQ8_LEVELS)
        for q, s in zip(qnorm, scales)
    ]
    approx = F.expr(
        f"aggregate(zip_with(codes, {_dbl_array_sql(weights)}, "
        "(c, w) -> c * w), 0.0D, (s, v) -> s + v)"
    )
    # candidate ids come to the driver as a BOUNDED list (k * refine
    # rows — a TakeOrderedAndProject job over the code scan) and return
    # to the plan as an isin literal: a broadcast join here added a
    # third sequential job (broadcast build) to the serving hot path,
    # and each job pays the ~95 ms scheduling floor PROFILE_serving_r11
    # measured. Same candidate set, same final rows.
    cand_ids = [
        r.vec_id
        for r in codes.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", approx.alias("approx_cos"))
        .orderBy(F.col("approx_cos").desc(), "vec_id")
        .limit(k * refine)
        .select("vec_id")
        .collect()
    ]
    emb = _emb_double(load_table(spark, sf_dir, "embeddings"))
    # the query vector is already resolved driver-side (cached, qrow):
    # carried as a literal-array SQL string instead of a broadcast 1-row
    # subplan — same doubles, same zip_with/aggregate arithmetic (array
    # order matches python's left-to-right sum, sqrt is IEEE-exact on
    # both sides), one fewer parquet-scan subtree and ~200 ms less py4j
    # plan construction in the per-request serving job. norm(q) is the
    # driver-computed qn, identical to the in-plan aggregate by
    # construction.
    cos = F.expr(
        f"round(aggregate(zip_with(emb, {_dbl_array_sql(qrow)}, "
        "(x, y) -> x * y), 0.0D, (s, v) -> s + v) / "
        "(sqrt(aggregate(emb, 0.0D, (s, v) -> s + v * v)) * "
        f"CAST('{float(qn)!r}' AS DOUBLE)), 4)"
    )
    in_cand = F.expr(
        "vec_id IN (" + ",".join(str(int(i)) for i in cand_ids) + ")"
    ) if cand_ids else F.lit(False)
    return (
        emb.filter(in_cand)
        .select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )


RP_DIM = 16  # Johnson-Lindenstrauss target dimension (64 -> 16)
RP_SEED = 0x5EED
RP_REFINE = 6  # candidates per final result before exact re-rank


def rp_project(
    emb_df: DataFrame,
    out_dim: int = RP_DIM,
    seed: int = RP_SEED,
    emb_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: adds ``rp`` — the
    L2-normalized input vector times a seeded Gaussian d x out_dim
    matrix (scaled 1/sqrt(out_dim), the JL convention that preserves
    inner products in expectation). Every other column passes through.

    The 100 TB lever: downstream distance work (ANN candidate
    generation, clustering, dedup kernels) runs on out_dim/d of the
    bytes — a 4x reduction at 64 -> 16 — with distortion bounded by JL
    and correctness restored by an exact re-rank over the survivors.

    The projection matrix derives from ``seed`` alone (d*out_dim
    float64s, driver-held like the IVF centroids), so any executor —
    or a later session — reproduces the identical projection; the
    matmul itself is an Arrow-batched numpy GEMM per batch (the same
    vectorized shape as the cosine_pairs kernel)."""
    import numpy as np

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in emb_df.schema.fields
    )

    def _project(batches):
        rmat = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf[emb_col]), dtype=np.float64)
            if rmat is None:
                # seeded fresh here so the matrix depends on nothing but
                # (seed, d, out_dim) — identical on every executor
                rmat = np.random.default_rng(seed).standard_normal(
                    (x.shape[1], out_dim)
                ) / np.sqrt(out_dim)
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            proj = (x / norms) @ rmat
            pdf = pdf.copy()
            pdf["rp"] = list(proj)
            yield pdf

    return emb_df.mapInPandas(_project, f"{fields}, rp array<double>")


def rp_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOPK,
    refine: int = RP_REFINE,
    query_vec_id: int = QUERY_VEC_ID,
) -> DataFrame:
    """Random-projection approximate top-k against the query vector:
    score sum(rp_d * q_rp_d) in the 16-dim projected space (pure JVM
    zip_with/aggregate over the reduced arrays), TakeOrdered k*refine
    candidates, exact-cosine re-rank of only those (broadcast id list).
    Recall is pytest-gated against the exact brute-force tier on
    SEPARATED data — that is this tier's regime. On noise-dominated
    corpora (neighbor gaps smaller than the 64->16 JL distortion) it
    measures 0.48 recall@10 even at refine=96 (SCALING.md ANN section,
    measured at sf1): use sq8_topk there, or raise RP_DIM at the cost
    of the compression that motivates the tier."""
    import numpy as np

    emb_all = load_table(spark, sf_dir, "embeddings")
    proj = rp_project(emb_all).select("vec_id", "label", "rp")
    # the query's projection is computed DRIVER-SIDE from the cached
    # query vector (_query_vector) with numpy ops identical to the
    # executor kernel's (same float64 normalize + (1,d)@(d,out) matmul
    # on a one-row batch), so no per-call projection job runs: the old
    # rp_project(filter).collect() cost one Spark job per query purely
    # to fetch 16 doubles that are a pure function of (seed, fixture).
    # Bit-equality with the kernel is pinned in
    # tests/test_random_projection.py::test_driver_side_query_projection.
    qrow = _query_vector(spark, sf_dir, query_vec_id)
    x = np.array([qrow], dtype=np.float64)
    rmat = np.random.default_rng(RP_SEED).standard_normal(
        (x.shape[1], RP_DIM)
    ) / np.sqrt(RP_DIM)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    qrp = [float(v) for v in ((x / norms) @ rmat)[0]]
    # one SQL string instead of 16 F.lit round trips (same doubles via
    # repr round-trip — see _dbl_array_sql)
    approx = F.expr(
        f"aggregate(zip_with(rp, {_dbl_array_sql(qrp)}, "
        "(a, b) -> a * b), 0.0D, (s, v) -> s + v)"
    )
    cand = (
        proj.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", approx.alias("approx_cos"))
        .orderBy(F.col("approx_cos").desc(), "vec_id")
        .limit(k * refine)
        .select("vec_id")
    )
    emb = _emb_double(load_table(spark, sf_dir, "embeddings"))
    # exact re-rank against the literal query array — the same
    # literal-carrier shape (and bit-identical arithmetic: left-to-right
    # fold, IEEE sqrt) as sq8_topk's re-rank, one fewer per-call
    # parquet-scan + broadcast subtree
    qn = sum(v * v for v in qrow) ** 0.5
    if qn <= 0.0:
        raise ValueError(f"query vector {query_vec_id} has zero norm")
    cos = F.expr(
        f"aggregate(zip_with(emb, {_dbl_array_sql(qrow)}, "
        "(x, y) -> x * y), 0.0D, (s, v) -> s + v) / "
        "(sqrt(aggregate(emb, 0.0D, (s, v) -> s + v * v)) * "
        f"CAST('{float(qn)!r}' AS DOUBLE))"
    )
    return (
        emb.join(F.broadcast(cand), "vec_id")
        .select("vec_id", "label", F.round(cos, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )


# Deterministic query set for the batched-ANN slot section: three corpus
# vectors that exist at every fixture SF.
BATCH_QUERY_IDS = [0, 7, 21]


def ann_topk_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-index family under one rows-only slot, one row
    shape (kind, vec_id, label, cosine): the persisted-IVF probe
    (partition-pruned scan), the SQ8 scalar-quantized search (int8
    code-domain scoring + exact re-rank), the Johnson-Lindenstrauss
    random-projection search (16-dim scoring + exact re-rank), and the
    BATCHED multi-query search ('batch:<query_id>' rows — one
    distributed pass answers all three queries, the ANN serving shape).
    All are pytest-gated on recall/identity against the exact tier."""
    ivf = ivf_topk_indexed(spark, sf_dir).select(
        F.lit("ivf").alias("kind"), "vec_id", "label", "cosine"
    )
    sq8 = sq8_topk(spark, sf_dir).select(
        F.lit("sq8").alias("kind"), "vec_id", "label", "cosine"
    )
    rp = rp_topk(spark, sf_dir).select(
        F.lit("rp").alias("kind"), "vec_id", "label", "cosine"
    )
    qs = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isin(BATCH_QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    batch = ivf_topk_batch(spark, sf_dir, qs).select(
        F.concat(F.lit("batch:"), F.col("query_id")).alias("kind"),
        "vec_id",
        "label",
        "cosine",
    )
    return ivf.unionByName(sq8).unionByName(rp).unionByName(batch)


# ---------------------------------------------------------------------------
# Regime-aware ANN routing (the round-9 recall study, encoded as the default)
#
# The sf1 recall study (ANN_RECALL_sf1.json / ANN_RECALL_planted.json,
# SCALING.md ANN section) measured two regimes at the same 20k x 64 scale:
# on a NOISE-DOMINATED corpus SQ8 held recall@10 = 1.00 at 4x compression
# while IVF needed 12 of 20 probes to reach 0.91 (cell pruning discards
# true neighbors when neighbors don't align with cells); on a WELL-
# SEPARATED corpus IVF hit 0.93 at 2 probes (pruning pays exactly there).
# ann_topk_auto turns that lesson into the default: a cheap sampled
# cell-concentration probe decides the regime, SQ8 unless the corpus is
# demonstrably clustered, in which case IVF with a probe count sized to a
# target recall ON THE SAMPLE. Existing driver slots (ivf_topk, sq8_topk,
# ann_topk_variants) are untouched — this is the frame-level default for
# callers who don't know their corpus.

ANN_PROBE_SAMPLE = 512  # vectors collected for the probe (sample_n x d
#   doubles — ~256 KB at d=64, bounded regardless of corpus size)
ANN_PROBE_QUERIES = 64  # sample rows treated as queries
ANN_CLUSTERED_MIN_RECALL = 0.6  # 1-probe sample recall above which the
#   corpus counts as clustered (measured: 0.93 planted vs 0.20 sf1 noise)


def ann_regime_probe(
    spark: SparkSession,
    sf_dir: str,
    sample_n: int = ANN_PROBE_SAMPLE,
    k: int = TOPK,
    target_recall: float = 0.9,
) -> dict:
    """Sampled cell-concentration probe: is this corpus's neighbor
    structure aligned with its IVF cells?

    Takes a deterministic hash-ordered sample of ``sample_n`` vectors
    (TakeOrdered — only the sample ever reaches the driver), assigns
    each to its nearest trained centroid, and for ANN_PROBE_QUERIES of
    them computes the exact top-k within the sample. Reports:

    - ``cell_recall_1probe``: mean fraction of a query's true neighbors
      living in the query's own top-1 cell — the statistic that
      separated the two measured regimes by >4x;
    - ``probes_for_target``: the 90th-percentile minimal probe count at
      which cell-ranked coverage of true neighbors reaches
      ``target_recall`` on the sample (the recall-targeted IVF knob);
    - ``route``: "ivf" iff cell_recall_1probe >= ANN_CLUSTERED_MIN_RECALL
      else "sq8".

    Cost: one distributed centroid training (cached per session/sf) +
    one TakeOrdered sample scan + numpy on sample_n x d — independent of
    corpus size."""
    # the probe parameters are part of the key: a second call with a
    # different k/target_recall/sample_n must not reuse the first
    # call's verdict
    return artifacts.get_or_build(
        spark, "ann_route", (sf_dir, sample_n, k, target_recall),
        lambda: _ann_regime_probe(spark, sf_dir, sample_n, k, target_recall),
    )


def _ann_regime_probe(
    spark: SparkSession, sf_dir: str, sample_n: int, k: int, target_recall: float
) -> dict:
    import numpy as np

    cents = _ivf_centroids(spark, sf_dir)
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(sample_n)
        .collect()
    )
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    if len(m) < 2:
        raise ValueError(
            f"ann_regime_probe needs >= 2 sample vectors, got {len(m)}"
        )
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cell_sims = m @ cents.T  # (n, n_cells)
    assign = np.argmax(cell_sims, axis=1)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    n_q = min(ANN_PROBE_QUERIES, len(m))
    # at most len(m)-1 true neighbors exist: the -inf diagonal must never
    # let the query count itself among them on tiny corpora
    k_eff = min(k, len(m) - 1)
    recalls, probes_needed = [], []
    for qi in range(n_q):
        nbrs = np.argsort(-sims[qi])[:k_eff]
        recalls.append(float(np.mean(assign[nbrs] == assign[qi])))
        cell_rank = {
            c: r for r, c in enumerate(np.argsort(-cell_sims[qi]))
        }
        nbr_ranks = sorted(cell_rank[c] for c in assign[nbrs])
        # minimal p with >= target_recall of neighbors in the top-p cells
        need = int(np.ceil(target_recall * len(nbr_ranks)))
        probes_needed.append(nbr_ranks[need - 1] + 1)
    one_probe = float(np.mean(recalls))
    return {
        "route": "ivf" if one_probe >= ANN_CLUSTERED_MIN_RECALL else "sq8",
        "cell_recall_1probe": round(one_probe, 4),
        "probes_for_target": int(
            np.percentile(probes_needed, 90, method="higher")
        ),
        "n_cells": int(cents.shape[0]),
        "sample_n": len(m),
        "target_recall": target_recall,
    }


def ann_topk_auto(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOPK,
    query_vec_id: int = QUERY_VEC_ID,
    target_recall: float = 0.9,
    serving: bool = False,
) -> DataFrame:
    """Regime-routed ANN top-k — the recommended default when the
    corpus's neighbor structure is unknown: SQ8 (measured regime-
    independent at 4x compression) unless ann_regime_probe finds the
    corpus clustered, then IVF with the probe count the sample says
    reaches ``target_recall`` (cell pruning reads probes/n_cells of the
    data — strictly cheaper than SQ8's full code scan when it applies).
    Output shape is the tiers' common (vec_id, label, cosine)."""
    probe = ann_regime_probe(spark, sf_dir, k=k, target_recall=target_recall)
    if probe["route"] == "ivf":
        return ivf_topk(
            spark,
            sf_dir,
            query_vec_id=query_vec_id,
            n_probes=probe["probes_for_target"],
            k=k,
        )
    if serving:
        # row-identical single-job twin (see sq8_topk_serving) — the
        # point-lookup latency shape for the /similar endpoint
        return sq8_topk_serving(spark, sf_dir, k=k, query_vec_id=query_vec_id)
    return sq8_topk(spark, sf_dir, k=k, query_vec_id=query_vec_id).select(
        "vec_id", "label", "cosine"
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components: posexplode + avg per (label, pos) —
    the building block of IVF coarse quantization."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"))
    )


# Above this corpus size the exact O(n^2/blocks) GEMM tier stops being a
# sane default pair source for dedup and the sub-quadratic LSH tier takes
# over. 100k rows ≈ 25 full tile-pair GEMMs at 4096 rows/tile — the point
# where candidate generation, not verification, should be doing the work.
EXACT_PAIRS_MAX_ROWS = 100_000


def embedding_dedup_groups(
    spark: SparkSession,
    sf_dir: str,
    max_iters: int | None = None,
    pairs_fn=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup (the last of the dedup family:
    exact / Jaccard / MinHash-LSH / SimHash / embedding-cosine): pick one
    canonical keeper per group of mutually-near vectors.

    ``pairs_fn(spark, sf_dir) -> (id_a, id_b, ...)`` supplies the near-dup
    edges. By default it is chosen by corpus size: the block-tiled exact
    GEMM (cosine_pairs) up to EXACT_PAIRS_MAX_ROWS, the sub-quadratic
    banded LSH (lsh_candidate_pairs) beyond — so the 100 TB path is the
    default at 100 TB, not a docstring suggestion.
    Groups are the connected components of the pair graph, found by
    min-label propagation with pointer-doubling shortcuts (see
    label_propagate) — one neighbor-min join + one label-composition join
    per round, converging in O(log diameter) rounds. Every round is fully
    distributed (bounded shuffles, localCheckpoint cuts lineage); only the
    scalar changed-count reaches the driver for loop control — the
    standard Spark shape for iterative graph algorithms. Returns (vec_id,
    canonical_id, is_keeper); keeper = component minimum, so dedup =
    filter(is_keeper)."""
    ids = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id")
    )
    if pairs_fn is None:
        n = table_rowcount(spark, sf_dir, "embeddings")
        pairs_fn = cosine_pairs if n <= EXACT_PAIRS_MAX_ROWS else lsh_candidate_pairs
    pairs = pairs_fn(spark, sf_dir).select("id_a", "id_b")
    labels = label_propagate(ids, pairs, max_iters=max_iters)
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("label").alias("canonical_id"),
        (F.col("id") == F.col("label")).alias("is_keeper"),
    )


def label_propagate(
    ids: DataFrame, pairs: DataFrame, max_iters: int | None = None
) -> DataFrame:
    """Distributed connected components (the core of
    embedding_dedup_groups, reusable over any edge source — GEMM pairs,
    LSH candidates, jaccard pairs). ``ids``: one `id` column; ``pairs``:
    undirected edges (id_a, id_b). Returns (id, label) with label =
    component minimum. See _label_propagate_rounds for the algorithm."""
    labels, _ = _label_propagate_rounds(ids, pairs, max_iters=max_iters)
    return labels


def _label_propagate_rounds(
    ids: DataFrame, pairs: DataFrame, max_iters: int | None = None
) -> tuple[DataFrame, int]:
    """Min-label propagation with pointer-doubling shortcuts; also returns
    the round count (the property the shortcut exists for).

    Each round: (1) neighbor-min — every node takes the smallest label
    among itself and its neighbors (one join + one hash aggregate);
    (2) shortcut — label <- label(label), the Shiloach-Vishkin pointer
    doubling step (one self-join on the label frame). Plain neighbor-min
    alone needs O(component diameter) rounds, i.e. O(d) driver
    round-trips on long-chain graphs; composing the label pointer halves
    every chain per round, so convergence is O(log diameter) rounds. Both
    steps preserve the invariant "label is an id inside the same
    component, <= own id", so the fixpoint (no change across a round) is
    still exactly label = component minimum.

    Runs to convergence by default — a fixed iteration cap silently
    mis-labels long-chain graphs. ``max_iters`` is an optional safety
    bound for callers that know their graphs are dense (near-dup
    clusters converge in 2-3 rounds)."""
    # both directions from ONE read of ``pairs``: a union of two
    # projections would run an unpinned pair source (a GEMM or a band
    # join) twice
    edges = pairs.select(
        F.inline(
            F.array(
                F.struct(F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")),
                F.struct(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")),
            )
        )
    ).localCheckpoint(eager=True)
    # Only nodes incident to an edge can ever change label (an isolated
    # node's component minimum IS itself): iterate over the pair-graph
    # node set and union the isolated nodes back at the end. The loop
    # state is sized by the near-dup graph, not the corpus — at 100 TB
    # the corpus is the big number and the pair graph the small one.
    edge_nodes = edges.select(F.col("id_a").alias("id")).distinct()
    labels = (
        ids.join(edge_nodes, "id", "left_semi")
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    # anti-join against the CHECKPOINTED loop frame, not against
    # edge_nodes, whose distinct would re-run at result time; AQE turns
    # it into a broadcast anti when the pair-graph node set is small —
    # and when it isn't, ONE shuffle here still beats the shuffle-per-
    # round the corpus-sized loop frames used to pay
    isolated = ids.join(labels.select("id"), "id", "left_anti").withColumn(
        "label", F.col("id")
    )
    rounds = 0
    frontier = None  # None = first round, every node propagates
    while True:
        # Delta propagation: a neighbor can only lower my label if ITS
        # label changed last round (an unchanged neighbor's label was
        # already offered — and absorbed via least() — the round after it
        # last changed). Restricting the edge join to the changed frontier
        # makes late rounds proportional to the still-moving subgraph,
        # not the whole graph.
        active = (
            edges
            if frontier is None
            else edges.join(
                frontier.select(F.col("id").alias("id_b")), "id_b", "left_semi"
            )
        )
        nbr_min = (
            active.join(labels, active.id_b == labels.id)
            .groupBy("id_a")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels.id == nbr_min.id_a, "left").select(
            labels.id,
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                "label"
            ),
        )
        # pointer doubling: follow the label's own label. Every label IS a
        # node id, so the lookup join always resolves (left+coalesce only
        # guards ids absent from `ids`, which would be a caller bug).
        lookup = stepped.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plabel")
        )
        # LAZY checkpoint: the frontier count below is the round's one
        # action — it materializes the checkpoint and reports the changed
        # count in the same job (eager=True spent a second job per round
        # purely on materialization)
        proposed = (
            stepped.join(lookup, stepped.label == lookup._pid, "left")
            .select(
                "id",
                "old_label",
                F.coalesce("_plabel", "label").alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        frontier = proposed.filter(F.col("label") != F.col("old_label")).select("id")
        changed = frontier.count()
        labels = proposed.select("id", "label")
        rounds += 1
        if changed == 0 or (max_iters is not None and rounds >= max_iters):
            break
    return labels.unionByName(isolated), rounds


def groups_global_and_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_embedding_groups slot, tagged union (kind, vec_id,
    canonical_id, is_keeper):

    - kind='global': connected components over the size-routed pair
      source (exact GEMM small / banded LSH at scale) — the r3 slot;
    - kind='semdedup_cell': the SemDeDup group/keeper machinery under
      the hard gate (r4 verdict #3) — cell-scoped pairs (deterministic
      sign-bit cells, so the DuckDB recursive-CTE oracle can replay the
      cell restriction) -> pointer-doubled components -> keeper = cell
      component minimum. A pair leaked across cells, a missed within-
      cell pair, or a wrong keeper all break the value hash. The k-means
      cell variant (semantic_dedup_groups) keeps its pytest gates."""
    g = embedding_dedup_groups(spark, sf_dir).select(
        F.lit("global").alias("kind"), "vec_id", "canonical_id", "is_keeper"
    )
    s = embedding_dedup_groups(spark, sf_dir, pairs_fn=grid_cell_pairs).select(
        F.lit("semdedup_cell").alias("kind"),
        "vec_id",
        "canonical_id",
        "is_keeper",
    )
    return g.unionByName(s)


def topk_and_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-similarity tier under one slot, long format (sect, key,
    label, value): brute-force cosine top-k against the query vector
    ('topk', key=vec_id, value=cosine) + per-label mean embedding
    ('centroid', key=dimension, value=component). Each side keeps its own
    plan (broadcast 1-row query + TakeOrdered; posexplode + hash avg)."""
    t = cosine_topk(spark, sf_dir).select(
        F.lit("topk").alias("sect"),
        F.col("vec_id").cast("long").alias("key"),
        "label",
        F.col("cosine").alias("value"),
    )
    c = label_centroids(spark, sf_dir).select(
        F.lit("centroid").alias("sect"),
        F.col("pos").cast("long").alias("key"),
        "label",
        F.col("centroid_v").alias("value"),
    )
    return t.unionByName(c)


QUERIES = {
    "sim_cosine_pairs": cosine_pairs,
    "sim_topk_centroids": topk_and_centroids,
    "dedup_embedding_groups": groups_global_and_semdedup,
    "sim_ivf_topk": ann_topk_variants,  # rows-only (approximate indexes: ivf + sq8)
}

_COS_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


# The adaptive bit count, SQL dialect — the same integer-exact rule as
# _grid_bits, computed once in a one-row CTE (gparams) the cell
# expressions reference.
_GRID_BITS_SQL = f"({GRID_CELL_BITS} + " + " + ".join(
    f"CASE WHEN (SELECT count(*) FROM embeddings) > "
    f"{SEMDEDUP_TARGET_CELL << b} THEN 1 ELSE 0 END"
    for b in range(GRID_CELL_BITS, GRID_MAX_BITS)
) + ")"


def _GRID_CELL_SQL(alias: str) -> str:
    """The sign-bit grid cell of _grid_cell_col, DuckDB dialect, with
    the adaptive width read from the gparams CTE."""
    return " + ".join(
        f"CASE WHEN {j} < gparams.bits AND {alias}.embedding[{j + 1}] >= 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(GRID_MAX_BITS)
    )

ORACLES = {
    "sim_topk_centroids": f"""
        SELECT 'topk' AS sect, key, label, value FROM (
            SELECT CAST(a.vec_id AS BIGINT) AS key, a.label AS label,
                   round({_COS_SQL}, 4) AS value
            FROM embeddings a, embeddings b
            WHERE b.vec_id = {QUERY_VEC_ID} AND a.vec_id != {QUERY_VEC_ID}
            ORDER BY value DESC, key LIMIT {TOPK}
        )
        UNION ALL
        SELECT 'centroid' AS sect, CAST(pos - 1 AS BIGINT) AS key, label,
               round(avg(v), 6) AS value
        FROM (
            SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
        ) GROUP BY label, pos
    """,
    "sim_cosine_pairs": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_COS_SQL}, 4) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round({_COS_SQL}, 4) >= {PAIR_THRESHOLD}
        ORDER BY id_a, id_b
    """,
    # Connected components ARE ANSI-SQL-expressible: reach(id, r) is the
    # transitive closure of the symmetric near-dup edge set (min-label
    # propagation's fixpoint), so min(r) per id is the component minimum —
    # exactly the Spark loop's converged label. The semdedup_cell section
    # replays the cell restriction with the same sign-bit cell expression
    # (pure comparisons — no float arithmetic to disagree on).
    "dedup_embedding_groups": f"""
        WITH RECURSIVE pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round({_COS_SQL}, 4) >= {PAIR_THRESHOLD}
        ), edges AS (
            SELECT id_a, id_b FROM pairs
            UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs
        ), reach(id, r) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.id_a, reach.r FROM edges e JOIN reach ON e.id_b = reach.id
        ), gparams AS (
            SELECT {_GRID_BITS_SQL} AS bits
        ), cpairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a
            JOIN embeddings b ON a.vec_id < b.vec_id
            CROSS JOIN gparams
            WHERE ({_GRID_CELL_SQL('a')}) = ({_GRID_CELL_SQL('b')})
              AND round({_COS_SQL}, 4) >= {PAIR_THRESHOLD}
        ), cedges AS (
            SELECT id_a, id_b FROM cpairs
            UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM cpairs
        ), creach(id, r) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.id_a, creach.r
            FROM cedges e JOIN creach ON e.id_b = creach.id
        )
        SELECT 'global' AS kind, id AS vec_id, min(r) AS canonical_id,
               (id = min(r)) AS is_keeper
        FROM reach GROUP BY id
        UNION ALL
        SELECT 'semdedup_cell', id, min(r), (id = min(r))
        FROM creach GROUP BY id
        ORDER BY kind, vec_id
    """,
}


# Per-section bench attribution (r4 verdict #5) — see operators/dedup.py.
SECTIONS = {
    "dedup_embedding_groups": {
        "global": embedding_dedup_groups,
        "semdedup_cell": lambda s, d: embedding_dedup_groups(
            s, d, pairs_fn=grid_cell_pairs
        ),
    },
    "sim_ivf_topk": {
        "ivf": ivf_topk_indexed,
        "sq8": sq8_topk,
        "rp": rp_topk,
        "batch": lambda s, d: ivf_topk_batch(
            s,
            d,
            load_table(s, d, "embeddings")
            .filter(F.col("vec_id").isin(BATCH_QUERY_IDS))
            .selectExpr("vec_id AS query_id", "embedding"),
        ),
    },
    "sim_topk_centroids": {
        "topk": cosine_topk,
        "centroids": label_centroids,
    },
}
