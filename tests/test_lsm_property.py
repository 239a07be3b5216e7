"""Property-based LSM merge-semantics test for the objects layout.

The lifecycle tests (tests/test_streaming.py) check the deterministic
registry mutation fixture; here hypothesis drives randomized mutation
sequences — upserts, deletes of existing AND never-existing keys,
delete-then-reinsert resurrections, cross-segment overrides — against
the one executable oracle for an LSM: a Python dict applied in batch
order.  `objects_with_staged` (the last-write-wins merge serve) must
equal the dict after every sequence, and `compact_staged_objects`
must fold to the same state.

Segments are installed exactly as streaming_objects_ingest's _ingest
writes them (per-batch ``_seq`` stamp, staged_tmp + atomic install) —
the stream machinery itself is covered by the lifecycle tests; the
merge MATH under arbitrary inputs is the property here.

One shared Spark session; tiny key universes so shrinking stays
readable.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # full-gate: excluded from `pytest -m quick`
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

OBJ_SCHEMA = (
    "bucket string, object string, inode string, size long, atime string,"
    " checksum string, acl string, storageclass string, owner string"
)

BUCKETS = ["b1", "b2"]
OBJECTS = ["a", "a/x", "a/y", "b", "b/z", "c"]
KEYS = [(b, o) for b in BUCKETS for o in OBJECTS]


def _row(key, size):
    b, o = key
    return (b, o, "i", size, "2024-01-01", "c", None, "STANDARD", "own")


# a batch maps keys to an op: None = tombstone, int = upsert to size.
# dict => at most one op per key per batch (the ingest contract).
_batch = st.dictionaries(
    st.sampled_from(KEYS),
    st.one_of(st.none(), st.integers(0, 99)),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base_keys=st.sets(st.sampled_from(KEYS), min_size=0, max_size=6),
    batches=st.lists(_batch, min_size=1, max_size=3),
)
def test_lsm_merge_matches_dict_oracle(spark, tmp_path_factory, base_keys, batches):
    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark.functions.layoutcommit import install_staged_segment

    # -- oracle: a dict applied in batch order ---------------------------
    state = {k: 0 for k in sorted(base_keys)}
    for batch in batches:
        for k, op in batch.items():
            if op is None:
                state.pop(k, None)
            else:
                state[k] = op

    # -- engine: base layout + one installed segment per batch -----------
    layout = str(tmp_path_factory.mktemp("lsm_prop") / "layout")
    base = spark.createDataFrame(
        [_row(k, 0) for k in sorted(base_keys)], OBJ_SCHEMA
    )
    ing.save_objects_layout(base, layout)
    for i, batch in enumerate(batches):
        rows = [
            _row(k, -1 if op is None else op) + (op is None,)
            for k, op in sorted(batch.items())
        ]
        seg = spark.createDataFrame(
            rows, OBJ_SCHEMA + ", _tombstone boolean"
        ).withColumn(ing.OBJECTS_SEQ, F.lit(i).cast("long"))
        tmp = f"{layout}/staged_tmp/seg=p-{i}"
        seg.repartition(1).write.mode("overwrite").parquet(tmp)
        install_staged_segment(tmp, f"{layout}/staged/seg=p-{i}")

    def served(df):
        return {
            (r["bucket"], r["object"]): int(r["size"])
            for r in df.select("bucket", "object", "size").collect()
        }

    got = served(ing.objects_with_staged(spark, layout))
    assert got == state, (base_keys, batches)

    # ...and the LISTING serve over the un-folded merge must equal the
    # pure listing oracle (tests/test_listing_property.py — the
    # reference's make-fetcher semantics) applied to the merged dict:
    # the two properties compose, pinning predicate pushdown below the
    # merge window semantically, not just in the plan test
    from tests.test_listing_property import oracle_list

    for bucket in BUCKETS:
        want = oracle_list(
            [o for (b, o) in state if b == bucket], "", "/", None, 1000
        )
        listed = [
            (r["entry_type"], r["name"])
            for r in ing.list_objects_with_staged(
                spark, layout, bucket, "", "/"
            ).collect()
        ]
        assert listed == want, (bucket, base_keys, batches)

    # the fold must materialize the identical state (and drop
    # tombstoned keys physically — served equality covers the rows,
    # the lifecycle tests cover the disk shape)
    ing.compact_staged_objects(spark, layout)
    assert served(ing.objects_with_staged(spark, layout)) == state
