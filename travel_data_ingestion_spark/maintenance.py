"""Table maintenance: small-file compaction, plus the Z-order curve
value (``zorder_value``) that zo01's data-skipping contract grades.

Incremental load_id-partitioned writes accumulate one-file-per-batch
fragments; at 100 TB the resulting small-file storm dominates scan time
(footer reads + task scheduling). Compaction rewrites a table to
size-targeted files, preserving partition columns, using a full-shuffle
repartition so output files are evenly sized (coalesce would merely
concatenate uneven inputs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def table_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def recover_compaction(path: str) -> None:
    """Heal an interrupted ``compact_parquet`` swap.

    The swap window is two renames; a crash in between leaves the table
    dir absent but the backup intact. Recovery is unambiguous: if the
    table is missing and a backup exists, restore it; if both exist the
    swap completed and only the backup cleanup was lost — drop it.
    Leftover staging dirs are always safe to delete (never the live
    table)."""
    import shutil

    backup = path.rstrip("/") + "__old"
    staging = path.rstrip("/") + "__compacting"
    if os.path.exists(backup):
        if not os.path.exists(path):
            os.rename(backup, path)
        else:
            shutil.rmtree(backup)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Rewrite a parquet table into ~target-sized files; returns the
    output file count. Writes to a staging dir then swaps; a crash at
    any point is recoverable via ``recover_compaction`` (run first, so a
    previous interrupted swap heals before the next compaction), and a
    failure during the swap itself restores the original table.

    With ``partition_by``, rows are repartitioned BY the partition
    columns (hash into n_files partitions), so each partition dir
    receives its rows from exactly one task — one file per dir, ~n_files
    total. A bare ``repartition(n_files)`` would scatter every dir's
    rows across all tasks, yielding ~n_files files in EVERY dir."""
    import shutil

    recover_compaction(path)
    size = table_bytes(path)
    n_files = max(1, round(size / target_file_bytes))
    df = spark.read.parquet(path)
    staging = path.rstrip("/") + "__compacting"
    if partition_by:
        writer = df.repartition(n_files, *partition_by).write.mode("overwrite")
        writer = writer.partitionBy(*partition_by)
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
    writer.parquet(staging)
    backup = path.rstrip("/") + "__old"
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except BaseException:
        os.rename(backup, path)  # restore: the table is never left absent
        raise
    shutil.rmtree(backup)
    out = 0
    for _, _, files in os.walk(path):
        out += sum(1 for f in files if f.endswith(".parquet"))
    return out


def zorder_value(cols, bits: int = 16, boundaries=None):
    """Column expression: interleaved-bit Z-value over ``cols``.

    Each column is first mapped to a ``bits``-wide bucket index via its
    quantile boundaries (rank-space, so skewed distributions still fill
    the curve), then the bit planes are interleaved. Pure built-in
    expressions — codegen'd, no UDF, no shuffle of its own.

    ``boundaries`` is {col: sorted list of 2**bits - 1 cut points}
    (quantiles from ``approxQuantile``, or exact equal-width cuts as
    zo01 uses); required.

    ``bits * len(cols)`` must fit in 63 bits: plane 63 is the LONG sign
    bit, and an interleaved value reaching it flips negative — rows in
    the top half of the leading bucket range would then sort BEFORE the
    lowest buckets and the file min/max rectangles stop pruning.
    Raises instead of silently inverting the curve.
    """
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder_value: bits*len(cols) = {bits * len(cols)} exceeds 63 — "
            "the interleave would overflow into the long sign bit; "
            "lower bits (e.g. bits=63//len(cols))"
        )
    ranks = []
    for c in cols:
        # bucket index = count of quantile cuts <= value (rank-space)
        arr = F.array(*[F.lit(float(x)) for x in boundaries[c]])
        b = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, cut: acc + F.when(F.col(c).cast("double") >= cut, 1).otherwise(0),
        )
        ranks.append(b.cast("long"))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, r in enumerate(ranks):
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * len(ranks) + j)
    return z

