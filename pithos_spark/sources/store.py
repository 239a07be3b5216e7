"""Table mutation plans + storage layout (SURVEY §2.2 M1-M11, §1.5).

The reference mutates Cassandra rows one statement at a time (upserts
``update-object-q`` meta.clj:183-189, deletes ``delete-object-q``
meta.clj:191-195, per-part GC loops blob.clj:135-146).  The Spark-native
analog is set-based: a mutation is a *batch* DataFrame and the new table
state is a declarative plan (MERGE = precedence union, DELETE =
anti-join).  On a Delta/Iceberg table these compile to native MERGE
INTO / DELETE WHERE; on plain parquet the same plans feed an
overwrite-by-partition writer.

Layout (the 100 TB contract, mirroring the reference's partition keys):
 - objects:  partitionBy(bucket), sorted by object within partitions ->
   listings prune to one partition + min/max row-group skipping on key.
 - chunks:   bucketBy(inode), sorted by (block, offset) -> one object's
   bytes are one bucket's contiguous run.
 - dimension tables (buckets, grants, cors_rules): single files,
   broadcast at query time.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import LongType, StringType, StructField, StructType


def merge_upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE semantics as a plan: updates win over existing rows on the
    key; non-matched update rows are inserts (M1/M3).

    One shuffle on the merge key; at scale this is exactly the shape
    Delta's MERGE INTO executes (join on key + precedence).
    """
    tagged = updates.withColumn("_pri", F.lit(1)).unionByName(
        target.withColumn("_pri", F.lit(2))
    )
    w = Window.partitionBy(*keys).orderBy("_pri")
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    )


def delete_where(target: DataFrame, predicate: F.Column) -> DataFrame:
    """DELETE WHERE as a plan (M2/M4): the surviving table state."""
    return target.filter(~predicate)


def bulk_delete(target: DataFrame, keys_df: DataFrame, keys: list[str]) -> DataFrame:
    """M11: delete every row matching a key list (the reference parses
    the list from Delete XML then loops; here it's one anti-join)."""
    return target.join(keys_df.select(*keys).distinct(), keys, "left_anti")


def chunk_ingest(
    payloads: DataFrame,
    chunk_size: int = 512,
    max_block_chunks: int = 4,
    id_col: str = "inode",
    payload_col: str = "payload",
) -> DataFrame:
    """C13/T2: explode whole payloads into chunk rows with block
    assignment — the batch form of the reference's PUT ingest loop
    (stream.clj:105-141; boundary math blob.clj:161,190-191).

    offset walks the payload in ``chunk_size`` steps; a block holds
    ``max_block_chunks`` chunks (the reference's 1 GiB block = 2048 x
    512 KiB — scaled-down defaults here for testability).

    All JVM-side: sequence+transform+explode, substring slicing; the
    explode multiplies rows before any shuffle, so ingest parallelism
    is payload-partition parallelism.
    """
    plen = F.length(F.col(payload_col))
    offsets = F.sequence(
        F.lit(0), F.greatest(plen - 1, F.lit(0)), F.lit(chunk_size)
    )
    block_span = chunk_size * max_block_chunks
    exploded = payloads.select(
        F.col(id_col).alias("inode"),
        F.col(payload_col).alias("_payload"),
        plen.alias("_plen"),
        F.explode(offsets).alias("offset"),
    )
    return exploded.select(
        "inode",
        (F.floor(F.col("offset") / block_span) * block_span)
        .cast("long")
        .alias("block"),
        F.col("offset").cast("long"),
        F.least(F.lit(chunk_size), F.col("_plen") - F.col("offset"))
        .cast("long")
        .alias("chunksize"),
        F.substring(F.col("_payload"), F.col("offset") + 1, chunk_size).alias(
            "chunk_payload"
        ),
    )


# The objects layout's physical format as Spark reads it back: the
# object columns, then the ``bucket`` partition column last.  Readers
# pass it so a listing never runs a schema-inference job;
# OBJECTS_KEY is the layout's sort key.
OBJECTS_LAYOUT_SCHEMA = StructType(
    [
        StructField("object", StringType()),
        StructField("inode", StringType()),
        StructField("size", LongType()),
        StructField("atime", StringType()),
        StructField("checksum", StringType()),
        StructField("acl", StringType()),
        StructField("storageclass", StringType()),
        StructField("owner", StringType()),
        StructField("bucket", StringType()),
    ]
)
OBJECTS_KEY = ("bucket", "object")


def write_objects_layout(
    objects: DataFrame, path: str, n_files: int | None = None
) -> None:
    """The 100 TB objects layout: partition by bucket, sort by key within
    files so the listing range scan becomes partition pruning + row-group
    skipping (the Spark analog of the reference's (bucket) partition key
    + object clustering, meta.clj:45).

    Range-partitioned on (bucket, object) rather than hash-partitioned
    on bucket: a hot bucket splits across many write tasks instead of
    serializing into one, and because the split is by key RANGE, the
    files inside a bucket carry disjoint object intervals — min/max
    row-group skipping keeps working, which hash salting would destroy.
    The range sampler handles skew adaptively; this is the skew story
    for reingest, not just the fixture."""
    part = (
        objects.repartitionByRange(n_files, *OBJECTS_KEY)
        if n_files
        else objects.repartitionByRange(*OBJECTS_KEY)
    )
    (
        part.sortWithinPartitions(*OBJECTS_KEY)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    # An EMPTY corpus — e.g. an LSM fold where every key was
    # tombstoned (hypothesis-found, tests/test_lsm_property.py) —
    # writes ZERO data files under partitionBy, leaving a directory no
    # reader can infer a schema from.  Seed it with one zero-row file
    # carrying the full schema (bucket as a data column; with no
    # partition subdirs present, discovery yields the flat schema and
    # listings/merges stay correct over the empty table).  The walk
    # exits at the first parquet file, so non-empty layouts pay one
    # directory listing.
    import os

    def _has_data_file(d: str) -> bool:
        for root, _dirs, files in os.walk(d):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    if not _has_data_file(path):
        objects.limit(0).repartition(1).write.mode("append").parquet(path)


def write_chunks_layout(
    chunks: DataFrame,
    path: str,
    buckets: int = 32,
    cluster_cols: list[str] | None = None,
) -> None:
    """Chunk store layout: hash-bucket by inode, cluster by position —
    one object's bytes land in one bucket file in read order
    (blob.clj:77,93).  ``cluster_cols`` defaults to whichever of
    (block, offset, chunk_seq) the table carries."""
    if cluster_cols is None:
        cluster_cols = [
            c for c in ("block", "offset", "chunk_seq") if c in chunks.columns
        ]
    (
        chunks.repartition(buckets, "inode")
        .sortWithinPartitions("inode", *cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def table_file_stats(spark, path: str) -> "DataFrame":
    """Small-file diagnosis for a parquet table: file count, bytes,
    average file size — the input to a compaction decision."""
    import pyspark.sql.functions as F

    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.parquet"
    ).load(path).select("path", "length")
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("length").alias("total_bytes"),
        F.avg("length").cast("long").alias("avg_file_bytes"),
    )


def compact_table(
    spark,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> int:
    """Compaction (BASELINE north star "batch operations ... compaction"):
    rewrite a fragmented table into ~target-sized files, preserving any
    partition columns.  Returns the output file count.

    At 100 TB this runs per-partition (compact only fragmented
    partitions); the rewrite is a pure scan->write with no shuffle
    beyond the coalesce.
    """
    import pyspark.sql.functions as F

    df = spark.read.parquet(path)
    total = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .agg(F.sum("length"))
        .collect()[0][0]
        or 1
    )
    n_out = max(1, int(total / target_file_bytes))
    writer = df.repartition(n_out).write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(out_path)
    out_files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(out_path)
        .count()
    )
    return out_files
