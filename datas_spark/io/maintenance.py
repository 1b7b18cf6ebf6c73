"""Table maintenance for parquet lakes: small-file compaction and
physical table stats.

Why this is a first-class 100 TB concern: streaming sinks and
fine-grained batch writes leave thousands of KB-scale files per
partition; every downstream scan then pays per-file open/footer costs
and the driver pays listing time. Periodic compaction to
near-`target_bytes` files is the standard fix (Delta OPTIMIZE /
Iceberg rewrite_data_files); this is the vanilla-parquet version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["table_stats", "compact_parquet", "upsert_partitioned"]


def table_stats(spark: SparkSession, path: str) -> dict:
    """Physical stats of a parquet dir from the file system + footers:
    ``{n_files, total_bytes, avg_file_bytes, n_rows}``. Driver-side
    listing only — no data scan (rows come from footer metadata via a
    count(), which parquet answers from row-group stats)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    sizes = [
        st.getLen()
        for st in fs.listStatus(p)
        if st.getPath().getName().endswith(".parquet")
        or st.getPath().getName().startswith("part-")
    ]
    n_rows = spark.read.parquet(path).count()  # metadata-only count
    total = int(sum(sizes))
    return {
        "n_files": len(sizes),
        "total_bytes": total,
        "avg_file_bytes": int(total / len(sizes)) if sizes else 0,
        "n_rows": n_rows,
    }


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_col: str | None = None,
) -> dict:
    """Rewrite ``src_path`` into ``dst_path`` with files sized near
    ``target_file_bytes``.

    The output file count comes from the SOURCE's physical size (the
    only honest estimate without writing twice): ``ceil(total_bytes /
    target)``. With ``order_col`` the rewrite is a range exchange +
    in-partition sort, preserving (or establishing) clustering so
    row-group min/max pruning keeps working after compaction —
    compacting a z-ordered table with ``order_col='zkey'`` keeps the
    curve. Without it, a plain ``repartition`` (round-robin) balances
    bytes evenly.

    Returns the post-compaction `table_stats` of ``dst_path``.
    """
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    before = table_stats(spark, src_path)
    n_files = max(1, -(-before["total_bytes"] // target_file_bytes))
    df: DataFrame = spark.read.parquet(src_path)
    if order_col is not None:
        out = df.repartitionByRange(n_files, F.col(order_col)).sortWithinPartitions(
            order_col
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst_path)
    return table_stats(spark, dst_path)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> None:
    """MERGE-lite for a hive-partitioned parquet table: latest-wins
    upsert of ``updates`` by ``key_cols``, rewriting ONLY the
    partitions the batch touches (dynamic partition overwrite) — the
    vanilla-parquet answer to Delta/Iceberg ``MERGE INTO`` for the
    overwhelmingly common keyed-refresh case.

    Semantics: within a touched partition, an existing row whose key
    appears in ``updates`` is replaced; other existing rows carry over
    unchanged; new keys append. Duplicate keys INSIDE one batch are an
    error upstream — this function assumes ``updates`` is key-unique
    (dedupe with ``exact_dedup``/``max_by`` first). A key may move
    partitions only if the caller guarantees the old partition is also
    present in the batch's touched set (standard dynamic-overwrite
    caveat; same rule as Hive).

    Scale shape: the touched-partition filter is a broadcast IN-list
    semi-join pushed to the existing table's PartitionFilters — only
    touched partitions' files are ever read or rewritten; the
    carry-over anti-join shuffles just those partitions against the
    (typically much smaller) update batch. First write (no table yet)
    degrades to a plain partitioned write.
    """
    from pyspark.errors import AnalysisException

    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    try:
        existing = spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        existing = None
    if existing is not None:
        touched = [
            r[0]
            for r in updates.select(partition_col).distinct().collect()
        ]
        carry = existing.where(F.col(partition_col).isin(touched)).join(
            updates.select(*key_cols), key_cols, "left_anti"
        )
        merged = carry.unionByName(updates.select(*existing.columns))
        # materialize before the overwrite: the plan reads the same
        # files the write replaces (Spark rejects the self-overwrite,
        # and lazily it would be a read-your-own-delete race anyway)
        merged = merged.localCheckpoint(eager=True)
    else:
        merged = updates
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
