"""Point lookups and indexed scans (SURVEY §2.1, S1-S8).

Each of the reference's hand-written CQL query shapes becomes a filter
that Catalyst pushes into the parquet scan (PushedFilters), so at scale
these are partition-pruned, row-group-skipped reads — the Spark analog of
Cassandra's partition-key routing + clustering-key slicing.

Reference anchors:
 S1 bucket-by-tenant-q   src/io/pithos/bucket.clj:52-55
 S2 fetch-bucket-q       src/io/pithos/bucket.clj:57-60
 S3 fetch-object-q       src/io/pithos/meta.clj:153-173
 S4 get-object-q         src/io/pithos/meta.clj:175-181
 S8 list-upload-parts-q  src/io/pithos/meta.clj:134-139
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pithos_spark.plans.helpers import inc_prefix


def buckets_by_tenant(buckets: DataFrame, tenant: str) -> DataFrame:
    """S1: all buckets of a tenant (secondary-index scan in the reference,
    plain pushed-down filter here)."""
    return buckets.filter(F.col("tenant") == tenant)


def fetch_bucket(buckets: DataFrame, bucket: str) -> DataFrame:
    """S2: point lookup of one bucket row (LIMIT 1 in the reference; bucket
    is the PK so the filter alone is equivalent)."""
    return buckets.filter(F.col("bucket") == bucket).limit(1)


def fetch_objects_page(
    objects: DataFrame,
    bucket: str,
    prefix: str = "",
    marker: str | None = None,
    max_keys: int = 1000,
    include_marker: bool = False,
) -> DataFrame:
    """S3: one page of the raw object range scan (marker-resumable).

    ``include_marker`` mirrors the reference's first-page ``>=`` vs
    subsequent ``>`` bound (meta.clj:160-172).  orderBy+limit compiles to
    distributed top-k, not a global sort.
    """
    df = objects.filter(F.col("bucket") == bucket)
    if prefix:
        df = df.filter(F.col("object") >= prefix)
        hi = inc_prefix(prefix)
        if hi is not None:
            df = df.filter(F.col("object") < hi)
    if marker is not None:
        op = F.col("object") >= marker if include_marker else F.col("object") > marker
        df = df.filter(op)
    return df.orderBy("object").limit(max_keys)


def list_upload_parts(parts: DataFrame, upload: str) -> DataFrame:
    """S8: all parts of one upload in partno order (clustering order in the
    reference, explicit orderBy here)."""
    return parts.filter(F.col("upload") == upload).orderBy("partno")
