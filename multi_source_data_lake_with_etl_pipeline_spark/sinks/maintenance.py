"""Lake table maintenance: small-file compaction, sort-based
clustering, stale-artifact vacuum.

A continuously-ingested parquet lake degrades in two ways the write
path cannot avoid: micro-batches and partition-pruned MERGEs leave
many small files (each costing a scan task + footer read), and
insertion order scatters values so parquet row-group min/max stats
stop pruning anything. These are the offline maintenance passes —
the no-Delta equivalents of OPTIMIZE / OPTIMIZE ZORDER / VACUUM:

- ``compact_table``: rewrite to ~``target_file_mb`` files.
- ``cluster_table``: range-repartition + sort on chosen columns, so
  each output file owns a tight, near-disjoint value range and
  min/max data skipping works again for predicates on those columns.
- ``vacuum_table``: remove crash leftovers of the copy-on-write
  rewrites (``<table>.old`` aside copies, orphaned ``compact_*``/
  ``cluster_*`` temp dirs, and the ``merge_*``/``del_*`` ones older
  directory-swap upsert/delete writers left). Run only when no writer
  is active.

Both rewrites go through one aside-swap (never a moment with no table
on disk); upserts and deletes run on ``lake.LakeTable`` instead.
Reference parity: the reference has no maintenance layer at all (its
loaders append forever) — this is part of what running the same
pipelines at 100 TB actually requires.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



def _swap_table_dir(table_path: str, tmp: str) -> None:
    """Replace ``table_path`` with ``tmp`` without a no-table window:
    rename live aside → rename new in → drop the aside copy. A crash
    between the renames leaves ``<path>.old`` intact for manual
    recovery (vs. the rmtree-first pattern, which loses the table)."""
    old = table_path + ".old"
    if os.path.exists(old):  # stale leftover from a previous crash
        shutil.rmtree(old)
    os.rename(table_path, old)
    try:
        os.rename(tmp, table_path)
    except OSError:
        os.rename(old, table_path)  # roll back: restore the live table
        raise
    shutil.rmtree(old)


def _parquet_files(table_path: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(table_path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    ]


def _dir_bytes(table_path: str) -> int:
    return sum(os.path.getsize(p) for p in _parquet_files(table_path))


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_file_mb: int = 128,
    partition_col: str | None = None,
) -> dict:
    """Rewrite the table into ~``target_file_mb``-sized files.

    File count = ceil(current_bytes / target). With ``partition_col``
    the layout is preserved (one coalesced write per partition value
    via partitionBy); compaction never changes row content — asserted
    cheaply by row-count equality before the swap.
    """
    files_before = len(_parquet_files(table_path))
    n_files = max(1, -(-_dir_bytes(table_path) // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(table_path)
    n_rows = df.count()
    tmp = tempfile.mkdtemp(prefix="compact_", dir=os.path.dirname(table_path) or ".")
    writer = df.repartition(int(n_files)).write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)
    if spark.read.parquet(tmp).count() != n_rows:
        shutil.rmtree(tmp)
        raise RuntimeError("compaction row-count mismatch; table untouched")
    _swap_table_dir(table_path, tmp)
    return {"files_before": files_before, "files_after": len(_parquet_files(table_path))}


def linear_bucket(col: F.Column, lo: float, hi: float, bits: int = 16) -> F.Column:
    """Map ``col`` into [0, 2^bits) by linear min-max scaling (NULL and
    out-of-range values clamp to the edges). Linear bucketing keeps the
    expression a pure per-row projection; under heavy value skew the
    resolution degrades (most rows share few buckets) — swap in
    approxQuantile boundaries + a CASE/width_bucket lookup for
    rank-based buckets, the z-interleave below is unchanged."""
    n = (1 << bits) - 1
    if hi <= lo:  # constant column — single bucket
        return F.lit(0).cast("long")
    scaled = F.floor((col.cast("double") - F.lit(float(lo))) * n / (float(hi) - float(lo)))
    return F.least(F.greatest(F.coalesce(scaled, F.lit(0)), F.lit(0)), F.lit(n)).cast(
        "long"
    )


def zorder_value(buckets: list[F.Column], bits: int = 16) -> F.Column:
    """Interleave the bits of per-column bucket values into one Morton
    (Z-order) key: sorting by it gives every participating column
    locality in the file layout, so min/max stats prune on ALL of them,
    not just the leading sort column. Pure shift/and/or expression tree
    (bits × ncols terms) — whole-stage-codegen folds it into the scan
    projection, no UDF, no shuffle beyond the final range exchange."""
    k = len(buckets)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, bk in enumerate(buckets):
            z = z.bitwiseOR(F.shiftleft(F.shiftright(bk, b).bitwiseAND(F.lit(1)), b * k + i))
    return z


def zorder_by(df: DataFrame, cols: list[str], n_files: int, bits: int = 16) -> DataFrame:
    """Z-order ``df`` across ``cols``: one tiny min/max agg (driver-side
    scalars), a per-row Morton key, then range-repartition + sort on it.
    Output partition i owns a contiguous z-range = a compact region of
    the multi-dimensional space, so each file's footer [min,max] is
    tight on EVERY cluster column."""
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
    ).collect()[0]
    buckets = [
        linear_bucket(F.col(c), bounds[f"_lo_{c}"], bounds[f"_hi_{c}"], bits)
        for c in cols
    ]
    return (
        df.withColumn("_z", zorder_value(buckets, bits))
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def cluster_table(
    spark: SparkSession,
    table_path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    zorder: bool = False,
) -> dict:
    """Sort-cluster the table on ``cluster_cols``: range-repartition
    (each output file owns a contiguous value range) + sort within
    partitions (tight row-group stats inside each file). After this,
    a filter on the leading cluster column prunes at BOTH granularities
    parquet offers — files via footer min/max, row groups via
    statistics — without any table-format metadata. The single range
    exchange samples the column to build balanced bounds (Spark's
    RangePartitioner), so skew in the cluster key does not produce
    skewed files.

    ``zorder=True`` interleaves all cluster columns into one Morton key
    (see :func:`zorder_value`) so stats prune on every column, not just
    the leading one — OPTIMIZE ZORDER without a table format.
    """
    df = spark.read.parquet(table_path)
    n_rows = df.count()
    n_files = int(n_files or max(1, -(-_dir_bytes(table_path) // (128 * 1024 * 1024))))
    tmp = tempfile.mkdtemp(prefix="cluster_", dir=os.path.dirname(table_path) or ".")
    if zorder and len(cluster_cols) > 1:
        out = zorder_by(df, cluster_cols, n_files)
    else:
        cols = [F.col(c) for c in cluster_cols]
        out = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    out.write.mode("overwrite").parquet(tmp)
    if spark.read.parquet(tmp).count() != n_rows:
        shutil.rmtree(tmp)
        raise RuntimeError("clustering row-count mismatch; table untouched")
    _swap_table_dir(table_path, tmp)
    return {"n_files": len(_parquet_files(table_path)), "cluster_cols": cluster_cols}


def vacuum_table(table_path: str) -> list[str]:
    """Remove crash leftovers around ``table_path``: the ``.old``
    aside copy and orphaned writer temp dirs (``merge_*``, ``del_*``,
    ``compact_*``, ``cluster_*`` in the table's parent). Returns the
    removed paths. Only safe when no writer is active on this table —
    the writers themselves clean up on success, so anything matching
    here is debris from a crash."""
    removed: list[str] = []
    parent = os.path.dirname(os.path.abspath(table_path)) or "."
    candidates = [table_path + ".old"] + [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith(("merge_", "del_", "compact_", "cluster_"))
    ]
    for p in candidates:
        if os.path.isdir(p):
            shutil.rmtree(p)
            removed.append(p)
    return removed
