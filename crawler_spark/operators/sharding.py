"""Training-export operators: shard packing + deterministic splits.

The last mile of a 100 TB image+caption pipeline is writing the kept
rows out as fixed-size training shards (webdataset/tfrecord style) with
a reproducible train/val holdout. Both operators here are
metadata-level: they plan the export over slim rows (ids, sizes) so the
binary payload is shuffled exactly once, by the writer that follows the
plan — never by the planning itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.operators.dedup import md5_hash61


def pack_shards(
    df: DataFrame,
    order_cols: list,
    rows_per_shard: int,
    shard_col: str = "shard_id",
    idx_col: str = "idx_in_shard",
) -> DataFrame:
    """Assign every row a (shard_id, idx_in_shard) under the total order
    given by ``order_cols`` (which must be a UNIQUE key — ties would
    make the assignment of the tied rows arbitrary), with
    ``rows_per_shard`` rows per shard and the last shard short.

    The 100 TB shape: a naive global ``row_number()`` is a
    single-partition window — the whole table through one task. Instead:
    ``repartitionByRange`` on the key gives range-disjoint partitions in
    ascending partition-id order; a per-partition window computes local
    ranks; each partition's global offset comes from a #partitions-row
    count aggregate (a bounded driver collect, same class as broadcast
    centroids) joined back as a broadcast. Global index = offset +
    local_rank - 1; shard arithmetic is then per-row math. One range
    shuffle of slim rows, no global sort bottleneck."""
    if rows_per_shard < 1:
        raise ValueError("rows_per_shard must be >= 1")
    keys = [F.col(c) for c in order_cols]
    r = df.repartitionByRange(*keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(*keys)
    r = r.withColumn("_rn", F.row_number().over(w))
    # RangePartitioner maps ascending key ranges to ascending partition
    # ids, so the prefix-sum over _pid IS the global offset
    counts = sorted(
        (row["_pid"], row["n"])
        for row in r.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off = F.broadcast(
        r.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    )
    g = F.col("_off") + F.col("_rn") - 1
    return (
        r.join(off, "_pid")
        .withColumn(shard_col, (g / rows_per_shard).cast("long"))
        .withColumn(idx_col, g % rows_per_shard)
        .drop("_pid", "_rn", "_off")
    )


def hash_split(
    df: DataFrame,
    key_cols: list,
    val_pct: int,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val holdout: a row is 'val' iff its
    md5-based 61-bit key hash lands in the first ``val_pct`` of 100
    buckets. Seeded by content, not by rand(): the same row lands in
    the same split on every run, every cluster size, and in the DuckDB
    oracle (same first-15-hex-chars-of-md5 idiom as the W6 sampler) —
    the property that keeps a holdout honest across pipeline re-runs.
    Pure per-row column math, no shuffle."""
    if not 0 <= val_pct <= 100:
        raise ValueError("val_pct must be in [0, 100]")
    # concat_ws skips NULLs, so ('a', NULL, 'b') would key as ('a', 'b'):
    # a NULL becomes the sentinel "\x00" (non-NULL keys are unchanged)
    key = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols],
    )
    bucket = F.pmod(md5_hash61(key), F.lit(100))
    return df.withColumn(
        split_col,
        F.when(bucket < val_pct, F.lit("val")).otherwise(F.lit("train")),
    )
