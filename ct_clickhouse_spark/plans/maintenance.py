"""Storage maintenance: small-file compaction.

Streaming sinks produce one file per partition per micro-batch (the
reference's 512-row inserts would do the same, ct_ingestor.py:205-221);
MergeTree background merges solve this for ClickHouse (init.sql:16), so a
Parquet engine needs an explicit OPTIMIZE. At 100 TB this runs per
partition on a schedule, rewriting only partitions whose file count or
small-file ratio crosses a threshold.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import invalidate_table

TARGET_FILE_BYTES = 128 * 1024 * 1024  # standard HDFS-ish target


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _invalidate(spark: SparkSession, path: str) -> None:
    """Drop what the engine derived from the table at ``path`` (laid out
    as ``catalog.table_path`` builds it: ``<sf_dir>/<name>.parquet``)."""
    sf_dir, base = os.path.split(path.rstrip("/"))
    invalidate_table(spark, sf_dir, base.removesuffix(".parquet"))


def data_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under path (recursive, parquet only)."""
    fs, jpath = _fs(spark, path)
    it = fs.listFiles(jpath, True)
    n = total = 0
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            n += 1
            total += f.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    sort_by: list[str] | None = None,
    target_file_bytes: int = TARGET_FILE_BYTES,
    zorder_by: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite a (possibly partitioned) Parquet table into
    ceil(bytes/target) files, preserving Hive partition columns and
    optionally re-clustering so compaction restores data skipping:
    ``sort_by`` = linear sort-key skipping (MergeTree init.sql:18
    parity, perfect on the leading column); ``zorder_by`` = Morton
    clustering (plans/clustering.py) for balanced min/max skipping on
    EVERY listed column — the OPTIMIZE-ZORDER maintenance shape.

    Returns (files_before, files_after). For a PLAIN directory the
    rewrite goes through a sibling temp dir + two renames; each rename's
    boolean return is checked, and the original directory is restored if
    the swap-in fails, so a reader can never be left with a missing
    table and the old copy is deleted only after the new path verifiably
    exists — but the window between the two renames is the known
    non-atomicity of plain-FS table swaps. For a VERSIONED table
    (plans/versioned.py layout) there is no window at all: the compacted
    data lands in a fresh version directory and publishes with one
    marker-file create (crash-injection tested).
    """
    from .versioned import current_path, is_versioned, rewrite_versioned

    if sort_by and zorder_by:
        raise ValueError("compact_parquet: give sort_by or zorder_by, not both")
    versioned = is_versioned(spark, path)
    data_root = current_path(spark, path) if versioned else path
    before, total = data_file_stats(spark, data_root)
    n_files = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(data_root)
    partition_cols = [c for c in df.columns if c == "month"]
    tmp = path.rstrip("/") + "__compacting"
    if zorder_by:
        from .clustering import with_zorder_key

        # range partition on the z-key: each output file owns a
        # contiguous Morton range (per Hive partition when present)
        keyed = with_zorder_key(df, zorder_by)
        range_cols = [*partition_cols, "_zkey"]
        out = (
            keyed.repartitionByRange(n_files, *range_cols)
            .sortWithinPartitions(*range_cols)
            .drop("_zkey")
        )
    else:
        # partitioned tables shuffle on (n_files, partition cols): rows
        # of one Hive partition land in few tasks, total file count
        # ~= n_files
        out = (
            df.repartition(n_files)
            if not partition_cols
            else df.repartition(n_files, *partition_cols)
        )
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    if versioned:
        new_path = rewrite_versioned(
            spark, path, out, partition_by=partition_cols or None
        )
        _invalidate(spark, path)
        # marker file is not a data file; stats count parquet only
        after, _ = data_file_stats(spark, new_path)
        return before, after
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tmp)

    _swap_in(spark, path, tmp, op="compact_parquet")
    _invalidate(spark, path)

    after, _ = data_file_stats(spark, path)
    return before, after


def _swap_in(spark: SparkSession, path: str, tmp: str, op: str) -> None:
    """Replace ``path`` with the already-written ``tmp`` directory via
    two renames, restoring the original if the swap-in fails (shared by
    compaction and the unpartitioned mutations). A stale ``__old`` trash
    dir from an earlier crashed swap is cleared first — otherwise the
    rename-aside nests into it."""
    fs, jpath = _fs(spark, path)
    _, jtmp = _fs(spark, tmp)
    trash = path.rstrip("/") + "__old"
    _, jtrash = _fs(spark, trash)
    if fs.exists(jtrash):
        fs.delete(jtrash, True)
    if not fs.rename(jpath, jtrash):
        fs.delete(jtmp, True)
        raise IOError(f"{op}: failed to move {path} aside to {trash}")
    if not fs.rename(jtmp, jpath):
        # restore the original before surfacing the error
        restored = fs.rename(jtrash, jpath)
        fs.delete(jtmp, True)
        raise IOError(
            f"{op}: failed to swap in rewritten data at {path}"
            + ("" if restored else f" AND could not restore original from {trash}")
        )
    if fs.exists(jpath):
        fs.delete(jtrash, True)


def delete_where(
    spark: SparkSession,
    path: str,
    predicate,
    partition_col: str | None = None,
) -> tuple[int, int]:
    """Row-level delete from a Parquet table — the ClickHouse
    ``ALTER TABLE ... DELETE WHERE`` mutation analog, and the
    right-to-be-forgotten operation a training-data store needs
    (delete every row for a domain/fingerprint/user without rewriting
    the corpus).

    Partition-scoped like the ClickHouse mutation: with
    ``partition_col`` given (a Hive partition column), ONE pruned scan
    finds the partitions containing matches, and only those partitions
    are rewritten (dynamic partition overwrite keeps every other
    partition's files byte-identical — test-asserted). Partitions whose
    every row matches are dropped at the filesystem level (dynamic
    overwrite cannot write an empty partition). Without
    ``partition_col`` the whole table is rewritten through the same
    temp-dir + double-rename swap compaction uses.

    ``predicate`` is a Column or SQL string; rows where it evaluates
    NULL are KEPT (SQL DELETE semantics: only predicate-TRUE rows go).
    Returns (rows_deleted, partitions_rewritten_or_dropped); (0, 0)
    means no match — and no write at all. NULL partition values are not
    addressable by the scoped path (Hive's default-partition directory)
    — matches there raise rather than silently surviving.
    """
    from pyspark.sql import functions as F

    from .versioned import current_path, is_versioned, rewrite_versioned

    raw = F.expr(predicate) if isinstance(predicate, str) else predicate
    # NULL-safe: ~cond of a NULL predicate is NULL, which filter() drops
    # — without the coalesce, rows where the predicate can't evaluate
    # would silently vanish UNCOUNTED instead of being kept
    cond = F.coalesce(raw, F.lit(False))
    versioned = is_versioned(spark, path)
    df = spark.read.parquet(current_path(spark, path) if versioned else path)

    if partition_col is None:
        n_del = df.filter(cond).count()
        if n_del == 0:
            return 0, 0
        survivors = df.filter(~cond).localCheckpoint(eager=True)
        if versioned:
            # atomic publish: new version dir + one marker create — no
            # rename window (plans/versioned.py)
            rewrite_versioned(spark, path, survivors)
        else:
            tmp = path.rstrip("/") + "__deleting"
            survivors.write.mode("overwrite").parquet(tmp)
            _swap_in(spark, path, tmp, op="delete_where")
        _invalidate(spark, path)
        return n_del, 1
    if versioned:
        raise ValueError(
            "delete_where: partition-scoped mode operates on the plain "
            "Hive layout — versioned tables take the unpartitioned path"
        )

    # partition-scoped path: the DETECTION scan stays cond-filtered so
    # Catalyst can partition-prune it (predicate on the partition
    # column) and parquet row-group stats can skip non-matching data —
    # at 100 TB a delete touching 4 partitions must not pay a
    # full-table scan just to learn which partitions it touches. (An
    # earlier single-aggregate variant computed match + total counts in
    # one unfiltered groupBy; one job instead of two, but the unfiltered
    # scan is linear in TABLE size, not in touched partitions — the
    # wrong trade everywhere except a tiny benchmark table.)
    affected = (
        df.filter(cond)
        .groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("_n_del"))
        .collect()
    )
    if not affected:
        return 0, 0
    n_del = sum(int(r._n_del) for r in affected)
    values = [r[partition_col] for r in affected]
    if any(v is None for v in values):
        raise ValueError(
            "delete_where: matches in the NULL partition "
            "(__HIVE_DEFAULT_PARTITION__) are not addressable by the "
            "scoped path — use the unpartitioned mode"
        )

    scoped = df.filter(F.col(partition_col).isin(values))
    # materialize survivors BEFORE the overwrite: the write plan would
    # otherwise read the very partition directories the commit replaces,
    # and a post-commit task recomputation would re-read deleted files
    survivors = scoped.filter(~cond).localCheckpoint(eager=True)
    # which affected partitions still have rows after the delete: a
    # count-only aggregate over ONLY the affected partitions. It reads
    # no data columns (the partition value comes from the directory
    # name, row counts from parquet footers), so this is a
    # metadata-priced job scoped to the touched partitions — not a
    # second table scan, and cheaper than re-reading the survivor
    # checkpoint for a distinct
    totals = {
        r[partition_col]: int(r["_n_tot"])
        for r in scoped.groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("_n_tot"))
        .collect()
    }
    del_by_part = {r[partition_col]: int(r._n_del) for r in affected}
    surviving_values = {
        v for v in values if del_by_part[v] < totals[v]
    }
    if surviving_values:
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
    # fully-deleted partitions: dynamic overwrite can't express "this
    # partition now has zero rows" — drop their directories, located by
    # LISTING (Hive escapes special chars in dir names, so building the
    # name by hand would miss e.g. colons and silently keep the data)
    fully_deleted = {v for v in values if v not in surviving_values}
    if fully_deleted:
        _drop_partition_dirs(spark, path, partition_col, fully_deleted)
    _invalidate(spark, path)
    return n_del, len(values)


def _drop_partition_dirs(
    spark: SparkSession, path: str, partition_col: str, values: set
) -> None:
    """Delete the directories of the given partition VALUES, matching by
    Hive-unescaping each listed child name (never by hand-built paths)."""
    from urllib.parse import unquote

    fs, jpath = _fs(spark, path)
    wanted = {str(v) for v in values}
    dropped = set()
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not name.startswith(f"{partition_col}="):
            continue
        value = unquote(name.split("=", 1)[1])
        if value in wanted:
            if not fs.delete(status.getPath(), True):
                raise IOError(
                    f"failed to drop partition directory {name} under {path}"
                )
            dropped.add(value)
    missing = wanted - dropped
    if missing:
        raise IOError(
            f"fully-deleted partition value(s) {sorted(missing)} had no "
            f"matching directory under {path} — data may survive a "
            "reported delete"
        )


def update_where(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: dict,
    partition_col: str,
) -> tuple[int, int]:
    """Row-level update — the ``ALTER TABLE ... UPDATE col = expr WHERE``
    mutation analog, partition-scoped exactly like ``delete_where``:
    one pruned scan finds the partitions containing matches, only those
    rewrite (every other partition's files stay byte-identical), and
    rows that don't match keep their values inside the rewritten
    partitions. ``assignments`` maps column name -> Column or SQL
    string; ALL right-hand sides and the predicate evaluate against the
    ORIGINAL row (SQL UPDATE semantics — one select, not chained
    withColumns, so ``{"v": "v * 2", "flag": "v"}`` reads the old v in
    both). The partition column itself cannot be assigned (that is a
    row MOVE between directories — express it as delete + insert).
    Returns (rows_updated, partitions_rewritten)."""
    from pyspark.sql import functions as F

    from .versioned import is_versioned

    if is_versioned(spark, path):
        # same explicit guard delete_where's scoped mode has — without
        # it the read below fails with a misleading UNABLE_TO_INFER_SCHEMA
        raise ValueError(
            "update_where: the partition-scoped rewrite operates on the "
            "plain Hive layout, not a versioned table root"
        )
    if partition_col in assignments:
        raise ValueError(
            "update_where cannot reassign the partition column — a row "
            "move between partitions is delete + insert"
        )
    raw = F.expr(predicate) if isinstance(predicate, str) else predicate
    cond = F.coalesce(raw, F.lit(False))  # NULL predicate = not matched
    df = spark.read.parquet(path)
    affected = (
        df.filter(cond)
        .groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    if not affected:
        return 0, 0
    n_upd = sum(int(r._n) for r in affected)
    values = [r[partition_col] for r in affected]
    if any(v is None for v in values):
        raise ValueError(
            "update_where: matches in the NULL partition are not "
            "addressable by the scoped rewrite"
        )

    scoped = df.filter(F.col(partition_col).isin(values))
    # single select: every assignment's RHS and the predicate resolve
    # against the original columns, and results don't depend on dict
    # order (chained withColumn would feed updated values into later
    # expressions and re-evaluate the predicate against them)
    projected = []
    for c in scoped.columns:
        if c in assignments:
            expr = assignments[c]
            new_val = F.expr(expr) if isinstance(expr, str) else expr
            projected.append(F.when(cond, new_val).otherwise(F.col(c)).alias(c))
        else:
            projected.append(F.col(c))
    updated = scoped.select(*projected).localCheckpoint(eager=True)
    (
        updated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    _invalidate(spark, path)
    return n_upd, len(values)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    version_col: str | None = None,
    partition_values: list | None = None,
) -> tuple[int, int]:
    """Upsert a batch into a partitioned table — the
    ReplacingMergeTree merge analog (ClickHouse dedups rows sharing the
    sort key at merge time, keeping the max ``ver`` when given;
    reference init.sql:16-18 uses plain MergeTree and re-deduplicates
    per query — this is the operator that makes dedup a property of the
    TABLE instead).

    Only partitions the update batch touches are rewritten: existing
    rows of those partitions union the updates, and one row per
    ``key_cols`` survives — highest ``version_col`` (ties broken toward
    the update) or simply the update row when no version column is
    given; residual ties (duplicate same-key rows in the batch itself)
    break DETERMINISTICALLY by content hash, so a replay converges.
    Other partitions' files stay byte-identical. New partition values
    insert cleanly (dynamic overwrite creates them).

    CONTRACT: the key must determine the partition (the standard
    partitioned-upsert invariant — e.g. partition = a hash/date OF the
    key). The merge looks only at touched partitions, so a key that
    moved partitions would leave its old row in the untouched partition;
    that is a delete + insert, not an upsert. Returns
    (rows_applied, partitions_rewritten) — rows_applied counts update
    rows that actually WON their key (a stale lower-version row applies
    nothing and is not counted).

    ``partition_values``: the distinct partition values of the update
    batch, when the caller already knows them (a repeat-merge pipeline
    that prepared the batch). Skips the distinct+collect discovery job;
    the caller owns correctness — a value missing from the list makes
    the merge treat that slice of the batch as if it weren't there."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .versioned import is_versioned

    if is_versioned(spark, path):
        raise ValueError(
            "merge_upsert: the partition-scoped merge operates on the "
            "plain Hive layout, not a versioned table root"
        )
    values = (
        list(partition_values)
        if partition_values is not None
        else [
            r[partition_col]
            for r in updates.select(partition_col).distinct().collect()
        ]
    )
    if not values:
        return 0, 0
    if any(v is None for v in values):
        # a NULL batch partition would never match isin() below, so the
        # merge would exclude existing __HIVE_DEFAULT_PARTITION__ rows
        # while dynamic overwrite still rewrote that directory with only
        # the batch rows — silently dropping pre-existing NULL-partition
        # data (same guard as delete_where/update_where)
        raise ValueError(
            "merge_upsert: NULL values in the update batch's partition "
            "column are not addressable by the scoped merge"
        )

    current = spark.read.parquet(path).filter(
        F.col(partition_col).isin(values)
    )
    cols = current.columns
    tagged = current.select(*cols).withColumn("_is_update", F.lit(0)).unionByName(
        updates.select(*cols).withColumn("_is_update", F.lit(1))
    )
    content_hash = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    order = [F.col(version_col).desc()] if version_col else []
    order += [F.col("_is_update").desc(), content_hash.asc()]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # materialize before the overwrite (the plan reads the partitions
    # the commit replaces — same hazard note as delete_where)
    merged = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .localCheckpoint(eager=True)
    )
    n_applied = merged.filter(F.col("_is_update") == 1).count()
    (
        merged.drop("_rn", "_is_update")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    _invalidate(spark, path)
    return n_applied, len(values)
