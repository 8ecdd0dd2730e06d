"""Sinks (SURVEY §2.1 S3/S4).

The reference writes CSV submissions (``/root/reference/run.py:85,486``).
At scale, CSV single-file output is a driver bottleneck — ``coalesce(1)``
is only acceptable for small result tables (submissions are one row per
user).  Internal checkpoints go to parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Newline-delimited JSON sink (document-corpus interchange), one
    file per task."""
    df.write.mode("overwrite").json(path)


def checkpoint_parquet(df: DataFrame, path: str) -> DataFrame:
    """Materialize-and-reread (S4): the Spark version of the reference's
    write-then-re-read of its cleaned intermediate (run.py:84-90).

    Truncates lineage — useful before wide fan-out reuse when ``.cache()``
    memory pressure would cause recomputation at 100 TB.
    """
    write_parquet(df, path)
    return df.sparkSession.read.parquet(path)


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int | None = None
) -> None:
    """Range-partitioned, sorted parquet layout for data skipping: rows
    are range-partitioned on ``sort_cols`` (each file owns a contiguous,
    near-disjoint key range) and sorted within each file, so parquet
    row-group min/max statistics prune whole files/row-groups for
    point and range predicates on those columns — the poor-man's
    clustering key, free at read time.

    Use for fact tables queried by selective ranges (time, id) when
    directory partitioning (``partition_by``) would create too many tiny
    directories (high-cardinality keys).
    """
    cols = [df[c] for c in sort_cols]
    out = (
        df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
    )
    out.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 8,
) -> None:
    """Z-order (Morton-curve) clustered parquet layout: multi-column data
    skipping.  ``write_sorted_parquet`` prunes only on the leading sort
    key — a file sorted by (a, b) has the FULL b range in every file, so
    predicates on b skip nothing.  Z-ordering interleaves the bit
    representations of all ``cols``' quantile ranks, so each output file
    covers a contiguous z-range = a small hyper-rectangle in (a, b, ...)
    space, and parquet min/max stats prune files for selective predicates
    on ANY of the clustered columns (the Delta/Iceberg OPTIMIZE ZORDER
    technique).

    Scale: per column one ``approxQuantile`` pass (GK sketch, driver
    merges ~2^bits boundaries); rank-bucketing via broadcast splits
    (`Bucketizer`); bit interleave is pure codegen; then ONE range
    shuffle on the z-value.  Quantile ranks (not min/max linear scaling)
    make the curve skew-proof: each bucket holds ~1/2^bits of the rows
    regardless of the value distribution.
    """
    from pyspark.ml.feature import Bucketizer
    from pyspark.sql import functions as F

    out = df
    bucket_cols = []
    for c in cols:
        probs = [i / (2**bits) for i in range(1, 2**bits)]
        bounds = df.select(F.col(c).cast("double").alias(c)).approxQuantile(
            c, probs, 1.0 / (4 * 2**bits)
        )
        splits = [float("-inf")] + sorted(set(bounds)) + [float("inf")]
        bc = f"_zb_{c}"
        out = Bucketizer(
            splits=splits, inputCol=f"_zd_{c}", outputCol=bc, handleInvalid="keep"
        ).transform(out.withColumn(f"_zd_{c}", F.col(c).cast("double")))
        out = out.withColumn(bc, F.col(bc).cast("int"))
        bucket_cols.append(bc)

    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for j, bc in enumerate(bucket_cols):
            z = z.bitwiseOR(
                F.shiftright(F.col(bc), bit).bitwiseAND(F.lit(1)).cast("bigint")
                * F.lit(2 ** (bit * len(bucket_cols) + j)).cast("bigint")
            )
    out = out.withColumn("_z", z)
    (
        out.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z", *bucket_cols, *[f"_zd_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (columnar interchange with Hive-ecosystem consumers; same
    pushdown/pruning properties as parquet in Spark's scan)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def compact_parquet(
    spark: SparkSession, path: str, out_path: str, target_file_mb: int = 512
) -> int:
    """Small-files compaction: rewrite a parquet dataset into files of
    ~``target_file_mb`` each (computed from the actual on-disk size, no
    data scan).  The operational fix for streaming sinks and over-
    partitioned writes — at 100 TB, listing/footers of millions of tiny
    files dominate query startup; nightly compaction keeps scans
    footer-bound, not listing-bound.  Returns the output file count.
    """
    import glob
    import os

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, -(-total // (target_file_mb * 1024 * 1024)))  # ceil
    spark.read.parquet(path).repartition(int(n)).write.mode("overwrite").parquet(out_path)
    return int(n)


def write_parquet_bloom(
    df: DataFrame, path: str, bloom_cols: list[str], expected_ndv: int = 100_000
) -> None:
    """Write parquet with PARQUET-LEVEL BLOOM FILTERS on ``bloom_cols``
    (split-block bloom, parquet-format >= 2.9): point-lookup readers
    (Spark, Trino, Impala...) skip whole row groups whose filter proves
    the key absent — the storage-side sibling of the engine's
    ``bloom_semi_join``, and the difference between opening every row
    group of a 100 TB table and touching only candidates for an
    equality probe.

    Size the filter with ``expected_ndv`` ~ the column's per-file
    distinct count: too low inflates false positives (reads anyway), too
    high wastes footer bytes (~1.2 bytes/ndv).
    """
    w = df.write.mode("overwrite")
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    w.parquet(path)
