"""catalog.widen_narrow_scan: the r16 gate/memo semantics.

- widens only a pathologically narrow scan (<= NARROW_SCAN_MAX_SPLITS
  splits), never a small-but-multi-split frame (r15 advice: on a real
  cluster 'narrower than the core count' is common and must not buy a
  payload shuffle);
- memoizes the split-count probe per (session, table) in the artifact
  registry when given a table_key, and invalidate_table clears the memo.
"""

from __future__ import annotations

from ct_clickhouse_spark import artifacts
from ct_clickhouse_spark.catalog import (
    invalidate_table,
    load_table,
    table_path,
    widen_narrow_scan,
)
from tests.conftest import SF_DIR


def test_one_split_scan_widens_to_cores(spark):
    docs = load_table(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() == 1  # single-row-group fixture
    widened = widen_narrow_scan(docs, spark)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_multi_split_frame_is_untouched(spark):
    cores = spark.sparkContext.defaultParallelism
    assert cores > 3  # precondition for the gate distinction
    df = spark.range(1000).repartition(3)  # narrow (< cores) but >2 splits
    assert widen_narrow_scan(df, spark) is df


def test_probe_memoized_per_table_and_invalidated(spark):
    artifacts.clear("scan_width")
    docs = load_table(spark, SF_DIR, "documents")
    widen_narrow_scan(docs, spark, table_key=(SF_DIR, "documents"))
    assert artifacts.entries("scan_width", spark)[(SF_DIR, "documents")] == 1
    # memo hit: poison the stored value and confirm the gate reads it
    artifacts.clear("scan_width")
    artifacts.get_or_build(
        spark, "scan_width", (SF_DIR, "documents"), lambda: 99,
        reads=(table_path(SF_DIR, "documents"),), max_entries=None,
    )
    assert (
        widen_narrow_scan(docs, spark, table_key=(SF_DIR, "documents"))
        is docs
    )
    invalidate_table(spark, table_path(SF_DIR, "documents"))
    assert (SF_DIR, "documents") not in artifacts.entries("scan_width", spark)
