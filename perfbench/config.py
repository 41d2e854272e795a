"""Every setting the benchmark uses, in one place.

The sizes are chosen so that one untraced run of any workload (JVM start,
set-up, measurement, correctness checks) takes 45 to 70 s on a 4-core
box, so the driver's 48 runs fit its budget, and so that the timed work in each workload is dominated by the
layers that workload exists to exercise (see BENCHMARK.json ``why``).
"""

from __future__ import annotations

# ---- process / Spark environment ----------------------------------------
MAX_CPUS = 4  # SPARK_GRAFT_CPUS = min(nproc, MAX_CPUS): same width on any box
DRIVER_MEM = "3g"  # SPARK_GRAFT_DRIVER_MEM; the package default (16g) can exceed the box
RUN_DIR = ".perfbench_run"  # per-run scratch under the checkout root (gitignored)

# ---- seeds ----------------------------------------------------------------
# Seeds 1..8 were used while sizing and tuning the benchmark; HOLDOUT_SEED
# was kept unused until the final steadiness runs.
DEV_SEEDS = (1, 2, 3, 4, 5, 6, 7, 8)
HOLDOUT_SEED = 9173

# ---- serve_ingest: the historical table and its read mix ----------------------
SERVE_ORDERS = 10_000  # certificates in the generated orders table (~3x rows)
SERVE_BASES = 1_000  # distinct base domains (cust<k>.<tld>, as cert_domains builds)
SERVE_FUTURE_FRAC = 0.02  # certs dated far ahead, so /recent has rows to return
SERVE_VECTORS = 4_000  # embeddings behind /similar
SERVE_DIM = 32
# One cycle of the read mix: each endpoint once, in an order shuffled per
# cycle by the seed. No measured traffic of the API is available, so the
# mix is neutral (one request per endpoint), an assumption, not a profile.
ENDPOINTS = ("domain", "subdomains", "recent", "tld", "stats", "similar", "size")
SIMILAR_K = 10
# ann_regime_probe picks the probe count at which 90% of its sampled
# queries reach recall 0.9. Recall is judged over SIMILAR_RECALL_QUERIES
# /similar requests a run (the timed ones, topped up by untimed ones); the
# run fails when its misses reject "90% reach 0.9" at SIMILAR_ALPHA, that
# is at 8 or more misses of 20. A route that meets the target exactly
# fails about one run in 2400; one where only half the queries reach 0.9
# fails 87% of runs. Each /similar request costs about 0.4 s on 4 cores,
# so more queries would not fit a run.
SIMILAR_MIN_RECALL = 0.9
SIMILAR_TARGET_SHARE = 0.9
SIMILAR_ALPHA = 1e-3
SIMILAR_RECALL_QUERIES = 20
# /stats approx_count_distinct (HLL++, rsd 0.05) against the exact count:
# |approx - exact| <= max(STATS_APPROX_REL * exact, STATS_APPROX_ABS).
# On daily counts of 10-50 values Spark's estimate was measured up to 21%
# (3 of 15) below exact, wider than 0.05 rsd; the bound covers that.
STATS_APPROX_REL = 0.25
STATS_APPROX_ABS = 3
# warm-up: read cycles (each followed by one append) until the cycle's
# median request time is within WARM_LEVEL of the previous cycle's
WARM_CYCLES_MIN = 2
WARM_CYCLES_MAX = 3
WARM_LEVEL = 0.10

# ---- serve_ingest: the live table ---------------------------------------------
INGEST_LOG_WEIGHTS = (6, 4, 3, 2, 1, 1)  # more logs than cores, uneven sizes
INGEST_WARM_ENTRIES = 600  # committed in set-up to warm the query
INGEST_BACKLOGS = (600, 600, 600)  # catch-up rounds; throughput is their median rate
# entries per append: a "small append", an assumption (no measured log
# growth rate is available); several entries, so at least one is new
INGEST_APPEND = 6
INGEST_DUP_FRAC = 0.05  # entries that repeat an earlier certificate
INGEST_BASES = 400
INGEST_TRIGGER = "0 seconds"  # processing-time trigger, batches back to back
INGEST_TIMEOUT_S = 30.0
LIVE_READS_PER_APPEND = 1  # live-table reads after each append
MIN_CYCLES = 2  # measured read cycles, at least
MIN_APPENDS = 2

# ---- corpus_dedup -----------------------------------------------------------
CORPUS_DOCS = 6_000  # the historical corpus the batches are deduped against
# documents per batch; batch time barely grows with size (about 6 s from 200
# to 1600 docs, 7.6 s at 4000 on 4 cores): job scheduling dominates
CORPUS_BATCH = 1_200
# warm-up batches: batch time levels off after the first (cold) batch,
# measured 17.7 -> 6.8 -> 6.8 s and 19.8 -> 7.5 -> 7.0 -> 7.1 s on 4 cores
CORPUS_WARM_BATCHES = 1
CORPUS_MIN_BATCHES = 2  # timed batches, at least
VOCAB = 4_000
# per-batch plants, as fractions of CORPUS_BATCH
PLANT_CORPUS_DUP = 0.10  # exact copies of corpus documents
PLANT_NEAR_GROUPS = 0.06  # near-duplicate groups (2-3 docs each)
PLANT_JUNK = 0.08  # docs the quality filter must drop
