"""Storage-layout tests: writing the 100 TB layout and proving the
pruning it exists for (partition pruning on bucket, row-group locality
on sorted keys, chunk clustering)."""

import pytest

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def layout_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("layout"))


@pytest.mark.slow
def test_objects_layout_prunes_partitions(spark, layout_dir):
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.operators.listing import list_objects
    from pithos_spark.sources.store import write_objects_layout

    t = T.load_tables(spark, SF_ORACLE)
    path = f"{layout_dir}/objects"
    write_objects_layout(T.objects_df(t), path)

    stored = spark.read.parquet(path)
    df = list_objects(stored, "NATION_2", "1-URGENT/", "/")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # bucket=NATION_2 must become a partition filter (directory pruning),
    # not a data filter
    assert "PartitionFilters" in plan and "NATION_2" in plan
    # and the result must equal the unpartitioned plan's result
    baseline = {
        tuple(r)
        for r in list_objects(
            T.objects_df(t), "NATION_2", "1-URGENT/", "/"
        ).collect()
    }
    assert {tuple(r) for r in df.collect()} == baseline


def test_chunks_layout_roundtrip(spark, layout_dir):
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.operators.checksums import object_checksums
    from pithos_spark.sources.store import write_chunks_layout

    t = T.load_tables(spark, SF_ORACLE)
    path = f"{layout_dir}/chunks"
    write_chunks_layout(T.chunks_df(t), path, buckets=8)

    stored = spark.read.parquet(path)
    a = {tuple(r) for r in object_checksums(stored).collect()}
    b = {tuple(r) for r in object_checksums(T.chunks_df(t)).collect()}
    assert a == b  # layout change cannot change results


@pytest.mark.slow
def test_compaction_reduces_file_count(spark, layout_dir):
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.sources.store import compact_table, table_file_stats

    t = T.load_tables(spark, SF_ORACLE)
    frag_path = f"{layout_dir}/fragmented"
    # fragment deliberately: 64 tiny files
    t["lineitem"].repartition(64).write.mode("overwrite").parquet(frag_path)
    before = table_file_stats(spark, frag_path).collect()[0]
    assert before["n_files"] >= 64

    out_path = f"{layout_dir}/compacted"
    n_out = compact_table(spark, frag_path, out_path, target_file_bytes=2**20)
    after = table_file_stats(spark, out_path).collect()[0]
    assert after["n_files"] == n_out < before["n_files"]
    # compaction must not change the data
    a = spark.read.parquet(frag_path).agg(F.sum("l_quantity")).collect()[0][0]
    b = spark.read.parquet(out_path).agg(F.sum("l_quantity")).collect()[0][0]
    assert a == b
    assert spark.read.parquet(out_path).count() == t["lineitem"].count()


def test_events_ts_normalized_and_matches_oracle(spark):
    """_read_table normalizes events.ts (TIMESTAMP(NANOS) parquet) to a
    plain TIMESTAMP without touching session conf, and the truncated
    micros values match DuckDB's read of the same file exactly."""
    import duckdb
    import pyspark.sql.functions as F

    from pithos_spark.tables import _read_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = _read_table(spark, "/root/testdata/sf0.001", "events")
    assert spark.conf.get(key) == "false"  # never set session-globally
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.unix_micros("ts")).alias("s"),
    ).collect()[0]
    want = duckdb.sql(
        "SELECT count(*), sum(epoch_us(ts)) FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    ).fetchone()
    assert (got["n"], got["s"]) == want


@pytest.mark.slow
def test_pq_index_roundtrip_bit_identical(spark, layout_dir):
    """save_pq_index -> pq_topk_from_layout returns row-for-row exactly
    what the in-query train+serve form returns (same pq_serve_topk tail
    over value-identical tables), and load_pq_index recovers the meta
    the layout was built with."""
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    path = f"{layout_dir}/pq_index"
    similarity.save_pq_index(emb, path)
    codes, codebooks, meta = similarity.load_pq_index(spark, path)
    assert (meta["m_sub"], meta["k_codes"], meta["scale"], meta["dim"]) == (
        8, 16, 1000, 64,
    )
    # codebooks are KB-class driver artifacts since r18: a dict keyed
    # (m, code), one entry per centroid
    assert len(codebooks) == 8 * 16
    got = [
        tuple(r) for r in similarity.pq_topk_from_layout(emb, path, 0, 10).collect()
    ]
    want = [tuple(r) for r in similarity.pq_topk(emb, 0, 10).collect()]
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_trigram_layout_roundtrip_and_probe_subset(spark, layout_dir):
    """trigram_heldout_from_layout == trigram_heldout_score on the same
    LM slice, row for row; and the bucket-pruned probe path returns the
    same rows as the unpruned layout read restricted to the probe."""
    from pithos_spark import tables as T
    from pithos_spark.functions import text

    docs = T.load_tables(spark, SF_ORACLE)["documents"]
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    path = f"{layout_dir}/trigram_lm"
    text.write_trigram_lm_layout(lm, path)
    got = [
        tuple(r) for r in text.trigram_heldout_from_layout(score, path).collect()
    ]
    want = [tuple(r) for r in text.trigram_heldout_score(score, lm).collect()]
    assert got == want and len(got) > 0
    probe = docs.filter("doc_id in (1, 2, 3)")
    pruned = [
        tuple(r) for r in text.trigram_probe_from_layout(probe, path).collect()
    ]
    full = [
        tuple(r) for r in text.trigram_heldout_from_layout(probe, path).collect()
    ]
    assert pruned == full and len(pruned) == 3


@pytest.mark.slow
def test_ivfpq_residual_index_roundtrip_and_pruning(spark, layout_dir):
    """save_ivfpq_residual_index -> ivfpq_residual_topk_from_layout is
    row-for-row identical to the in-query form, and the layout's code
    table is physically partitioned by coarse cluster (one directory
    per inverted list — the probe read prunes at the filesystem)."""
    import os

    from pithos_spark import tables as T
    from pithos_spark.functions import similarity

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    path = f"{layout_dir}/ivfpq_index"
    similarity.save_ivfpq_residual_index(emb, path)
    dirs = [d for d in os.listdir(f"{path}/codes") if d.startswith("cluster=")]
    assert len(dirs) == 8
    got = [
        tuple(r)
        for r in similarity.ivfpq_residual_topk_from_layout(
            emb, path, 0, 10
        ).collect()
    ]
    want = [tuple(r) for r in similarity.ivfpq_residual_topk(emb, 0, 10).collect()]
    assert got == want and len(got) == 10


def _with_edge_queries(spark, emb):
    """``emb`` plus one query row whose embedding is empty and one whose
    embedding is NULL (ids past the corpus, so not in any index): an
    ANN read answers neither, in any shape."""
    edge_ids = (10**6, 10**6 + 1)
    edge = spark.createDataFrame(
        [(edge_ids[0], [], 0), (edge_ids[1], None, 0)],
        emb.select("vec_id", "embedding", "label").schema,
    )
    return emb.unionByName(edge), edge_ids


@pytest.mark.slow
def test_pq_batch_from_layout_matches_single_query(spark, layout_dir):
    """Each query's rows in the one-pass batched PQ serve equal the
    single-query layout serve's rows exactly (same estimates, same
    rerank winners, same order)."""
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    path = f"{layout_dir}/pq_index_batch"
    similarity.save_pq_index(emb, path)
    emb, edge_ids = _with_edge_queries(spark, emb)
    ids = [0, 7, 42, *edge_ids]
    batch = similarity.pq_batch_topk_from_layout(emb, path, ids, 10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["label"], r["est_dot"], r["dot_q"])
        )
    for qid in ids:
        single = [
            tuple(r)
            for r in similarity.pq_topk_from_layout(emb, path, qid, 10).collect()
        ]
        if qid in edge_ids:
            assert single == [] and qid not in by_q
            continue
        assert by_q[qid] == single and len(single) == 10


@pytest.mark.slow
def test_pq_index_incremental_append_equals_one_pass(spark, layout_dir):
    """append_to_pq_index with frozen codebooks: build the index on 3/4
    of the vectors, append the remaining 1/4, and the serving read must
    equal one-pass encoding of the FULL corpus under the same codebooks
    (encoding is row-local given frozen codebooks, so ingest order
    cannot matter)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import similarity

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)
    path = f"{layout_dir}/pq_index_incr"
    similarity.save_pq_index(base, path)
    similarity.append_to_pq_index(delta, path)
    got = [
        tuple(r)
        for r in similarity.pq_topk_from_layout(emb, path, 0, 10).collect()
    ]
    # one-pass reference: same codebooks (trained on base), full corpus
    # (load_pq_index returns them as the driver-side dict since r18)
    _, codebooks, meta = similarity.load_pq_index(spark, path)
    codes_full = similarity.pq_encode(
        emb, codebooks, int(meta["m_sub"]), int(meta["scale"]),
        int(meta["dim"]),
    )
    want = [
        tuple(r)
        for r in similarity.pq_serve_topk(
            emb, codes_full, codebooks, 0, 10, int(meta["m_sub"]),
            4, int(meta["scale"]), int(meta["dim"]),
        ).collect()
    ]
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_pq_code_dedup_from_layout_matches_in_query(spark, layout_dir):
    """The dedup sweep over the persisted code table returns exactly
    the in-query form's pairs (same codebooks by shared seeding, stored
    codes value-identical)."""
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    path = f"{layout_dir}/pq_index_dedup"
    similarity.save_pq_index(emb, path)
    got = [
        tuple(r)
        for r in similarity.pq_code_near_pairs_from_layout(emb, path).collect()
    ]
    want = [tuple(r) for r in similarity.pq_code_near_pairs(emb).collect()]
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_ivfpq_residual_incremental_append_equals_one_pass(spark, layout_dir):
    """append_to_ivfpq_residual_index with frozen centroids+codebooks:
    build the index on 3/4 of the vectors, append the remaining 1/4 in
    two batches, and the serving read must equal one-pass encoding of
    the FULL corpus under the same frozen artifacts (assignment and
    residual encoding are row-local, so ingest order and batch
    boundaries cannot matter)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import similarity
    from pithos_spark.functions.similarity import (
        _lloyd_assign,
        _pq_assign,
        _pq_subvectors_from_q,
        _quantized,
        _residual_topk,
    )

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 3)
    path = f"{layout_dir}/ivfpq_residual_incr"
    similarity.save_ivfpq_residual_index(base, path)
    similarity.append_to_ivfpq_residual_index(
        emb.filter((F.col("vec_id") % 4 == 3) & (F.col("vec_id") % 8 == 3)),
        path,
    )
    similarity.append_to_ivfpq_residual_index(
        emb.filter((F.col("vec_id") % 4 == 3) & (F.col("vec_id") % 8 == 7)),
        path,
    )
    got = [
        tuple(r)
        for r in similarity.ivfpq_residual_topk_from_layout(
            emb, path, 0, 10
        ).collect()
    ]
    # appended rows land in the pre-existing cluster directories: the
    # partition column's value set must not grow
    stored = spark.read.parquet(f"{path}/codes")
    centers_df = spark.read.parquet(f"{path}/centers")
    assert stored.select("cluster").distinct().count() == centers_df.count()
    assert stored.select("vec_id").distinct().count() == emb.count()
    # one-pass reference: same frozen artifacts, full corpus
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    centers = {
        int(r["cluster"]): [int(v) for v in r["centroid_q"]]
        for r in centers_df.collect()
    }
    cb_df = spark.read.parquet(f"{path}/codebooks")
    codebooks = {
        (int(r["m"]), int(r["code"])): [int(v) for v in r["centroid_q"]]
        for r in cb_df.collect()
    }
    scale, dim, m_sub = (
        int(meta["scale"]), int(meta["dim"]), int(meta["m_sub"]),
    )
    qv = emb.select(
        "vec_id", "label", _quantized(F.col("embedding"), scale).alias("q")
    )
    assigned = qv.select(
        "vec_id", "q", _lloyd_assign(qv, centers).alias("cluster")
    )
    rqv = assigned.join(F.broadcast(centers_df), "cluster").select(
        "vec_id",
        "cluster",
        F.zip_with("q", "centroid_q", lambda a, b: a - b).alias("q"),
    )
    k_eff = len({c for _, c in codebooks}) or 1
    codes_full = _pq_subvectors_from_q(
        rqv.select("vec_id", "q"), m_sub, dim
    ).select(
        "vec_id", "m", _pq_assign(codebooks, m_sub, k_eff).alias("code")
    ).join(rqv.select("vec_id", "cluster"), "vec_id")
    want = [
        tuple(r)
        for r in _residual_topk(
            # centers/codebooks are driver-side dicts since r18
            emb, codes_full, centers, codebooks, meta, [0], 10, 2, 4
        ).drop("query_id").collect()
    ]
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_ivfpq_residual_batch_matches_single_query(spark, layout_dir):
    """Each query's rows in the batched residual serving read must be
    bit-identical to its single-query serving read over the same
    layout (the pq_batch consistency contract, now for the canonical
    index)."""
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    path = f"{layout_dir}/ivfpq_residual_batch"
    similarity.save_ivfpq_residual_index(emb, path)
    emb, edge_ids = _with_edge_queries(spark, emb)
    ids = [0, 7, 42, 99, 123, *edge_ids]
    batch = similarity.ivfpq_residual_batch_topk_from_layout(
        emb, path, ids, 10
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["label"], r["est_dot"], r["dot_q"])
        )
    for qid in ids:
        single = [
            tuple(r)
            for r in similarity.ivfpq_residual_topk_from_layout(
                emb, path, qid, 10
            ).collect()
        ]
        if qid in edge_ids:
            assert single == [] and qid not in by_q
            continue
        assert by_q[qid] == single and len(single) == 10


@pytest.mark.slow
def test_semantic_dedup_from_layout_matches_in_query(spark, layout_dir):
    """The SemDeDup sweep over the persisted IVF index (frozen
    assignments, no Lloyd passes at sweep time) returns exactly the
    train-in-query pairs when the layout was built at the same
    parameters."""
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    assigned, centers = similarity.build_ivf_lloyd_index(emb, 64, 2)
    path = f"{layout_dir}/sem_ivf_index"
    similarity.save_ivf_index(assigned, centers, path)
    stored = [
        tuple(r)
        for r in similarity.semantic_dedup_pairs_from_layout(
            spark, path
        ).collect()
    ]
    live = [tuple(r) for r in similarity.semantic_dedup_pairs(emb).collect()]
    assert stored == live and len(live) > 0
    # the sweep's input is the cluster-partitioned stored table
    import glob

    assert glob.glob(f"{path}/assigned/cluster=*")


@pytest.mark.slow
def test_postings_incremental_append_equals_one_pass(spark, layout_dir):
    """append_to_postings_layout (VERDICT r13 task 4): build the
    postings layout on 90% of the corpus, append the remaining 10% in
    two batches, and serving must equal a one-pass build over the full
    corpus — postings rows, stats counters, and top-k all identical
    (delta doc_ids are disjoint, df derives at query time, stats are
    additive)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval

    docs = T.load_tables(spark, SF_ORACLE)["documents"]
    full_path = f"{layout_dir}/postings_full"
    incr_path = f"{layout_dir}/postings_incr"
    retrieval.write_postings_layout(docs, full_path)
    retrieval.write_postings_layout(
        docs.filter(F.col("doc_id") % 10 != 0), incr_path
    )
    # two delta batches: batch boundaries must not matter
    retrieval.append_to_postings_layout(
        docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 20 == 0)),
        incr_path,
    )
    retrieval.append_to_postings_layout(
        docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 20 != 0)),
        incr_path,
    )
    got = [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, incr_path).collect()
    ]
    want = [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, full_path).collect()
    ]
    assert got == want and len(got) == 20
    gs = spark.read.parquet(f"{incr_path}/stats").collect()[0]
    ws = spark.read.parquet(f"{full_path}/stats").collect()[0]
    assert (gs["n_docs"], gs["total_len"]) == (ws["n_docs"], ws["total_len"])
    a = {
        tuple(r)
        for r in spark.read.parquet(f"{incr_path}/postings").collect()
    }
    b = {
        tuple(r)
        for r in spark.read.parquet(f"{full_path}/postings").collect()
    }
    assert a == b


@pytest.mark.slow
def test_trigram_incremental_append_equals_one_pass(spark, layout_dir):
    """append_to_trigram_lm_layout (VERDICT r13 task 4): frozen bucket
    count, delta counts appended as per-segment partial rows into the
    SAME murmur3 buckets, readers LSM-merge per gram — so both scoring
    paths (full heldout read and the pruned probe) must equal a
    one-pass layout built over the full LM slice."""
    from pithos_spark import tables as T
    from pithos_spark.functions import text

    docs = T.load_tables(spark, SF_ORACLE)["documents"]
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    full_path = f"{layout_dir}/trigram_full"
    incr_path = f"{layout_dir}/trigram_incr"
    text.write_trigram_lm_layout(lm, full_path)
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), incr_path)
    # two delta batches: a gram may now have up to three partial rows
    text.append_to_trigram_lm_layout(
        lm.filter("doc_id % 40 = 0 and doc_id % 80 = 0"), incr_path
    )
    text.append_to_trigram_lm_layout(
        lm.filter("doc_id % 40 = 0 and doc_id % 80 <> 0"), incr_path
    )
    got = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, incr_path).collect()
    ]
    want = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, full_path).collect()
    ]
    assert got == want and len(got) > 0
    gs = spark.read.parquet(f"{incr_path}/stats").collect()[0]
    ws = spark.read.parquet(f"{full_path}/stats").collect()[0]
    assert (gs["n_total"], gs["n_buckets"]) == (ws["n_total"], ws["n_buckets"])
    # appended files land inside the existing b= directories: the
    # partition value set stays within the frozen bucket space
    c3 = spark.read.parquet(f"{incr_path}/c3")
    assert c3.select("b").distinct().count() <= int(ws["n_buckets"])
    # the pruned probe path merges segments too
    probe = score.filter("doc_id % 16 = 1")
    gp = [
        tuple(r)
        for r in text.trigram_probe_from_layout(probe, incr_path).collect()
    ]
    wp = [
        tuple(r)
        for r in text.trigram_probe_from_layout(probe, full_path).collect()
    ]
    assert gp == wp and len(gp) > 0


@pytest.mark.slow
def test_ivf_incremental_append_equals_one_pass(spark, layout_dir):
    """append_to_ivf_index with frozen centers: build the IVF index on
    3/4 of the vectors, append the remaining 1/4 in two batches, and
    the stored assignment must equal one-pass assignment of the FULL
    corpus under the same frozen centers — and the SemDeDup sweep over
    the grown layout must equal the sweep over that one-pass
    assignment (the layout's main consumer)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import similarity
    from pithos_spark.functions.similarity import (
        _lloyd_assign,
        _quantized,
        _semantic_pairs_from_assigned,
    )

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 3)
    path = f"{layout_dir}/ivf_incr"
    assigned, centers_df = similarity.build_ivf_lloyd_index(base, 16, 2)
    similarity.save_ivf_index(assigned, centers_df, path)
    similarity.append_to_ivf_index(
        emb.filter((F.col("vec_id") % 4 == 3) & (F.col("vec_id") % 8 == 3)),
        path,
    )
    similarity.append_to_ivf_index(
        emb.filter((F.col("vec_id") % 4 == 3) & (F.col("vec_id") % 8 == 7)),
        path,
    )
    stored, stored_centers = similarity.load_ivf_index(spark, path)
    # appended rows land in existing cluster directories only
    assert stored.select("cluster").distinct().count() <= centers_df.count()
    assert stored.select("vec_id").distinct().count() == emb.count()
    # one-pass reference under the SAME frozen centers
    centers = {
        int(r["cluster"]): [int(v) for v in r["centroid_q"]]
        for r in stored_centers.collect()
    }
    qv = emb.select(
        "vec_id", "label", "embedding",
        _quantized(F.col("embedding"), 1000).alias("q"),
    )
    want_assign = {
        (r["vec_id"], r["cluster"])
        for r in qv.select(
            "vec_id", _lloyd_assign(qv, centers).alias("cluster")
        ).collect()
    }
    got_assign = {
        (r["vec_id"], r["cluster"]) for r in stored.select("vec_id", "cluster").collect()
    }
    assert got_assign == want_assign
    # the sweep over the grown layout == sweep over one-pass assignment
    one_pass = qv.select(
        "vec_id", "embedding", _lloyd_assign(qv, centers).alias("cluster")
    )
    got = [
        tuple(r)
        for r in similarity.semantic_dedup_pairs_from_layout(
            spark, path
        ).collect()
    ]
    want = [
        tuple(r)
        for r in _semantic_pairs_from_assigned(one_pass, 300_000, 500).collect()
    ]
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_ivf_append_reads_scale_from_meta(spark, layout_dir):
    """ADVICE r14: the IVF layout persists its build-time quantization
    scale; append assigns with the STORED scale when the caller passes
    none, and a contradicting explicit scale is rejected instead of
    silently assigning new vectors against wrongly-scaled centroids."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import similarity
    from pithos_spark.functions.similarity import _lloyd_assign, _quantized

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)
    path = f"{layout_dir}/ivf_meta_scale"
    assigned, centers_df = similarity.build_ivf_lloyd_index(
        base, 8, 1, scale=500
    )
    similarity.save_ivf_index(assigned, centers_df, path, scale=500)

    with pytest.raises(ValueError, match="contradicts"):
        similarity.append_to_ivf_index(delta, path, scale=1000)

    similarity.append_to_ivf_index(delta, path)  # scale from meta
    stored, stored_centers = similarity.load_ivf_index(spark, path)
    centers = {
        int(r["cluster"]): [int(v) for v in r["centroid_q"]]
        for r in stored_centers.collect()
    }
    qv = emb.select(
        "vec_id", "embedding", _quantized(F.col("embedding"), 500).alias("q")
    )
    want = {
        (r["vec_id"], r["cluster"])
        for r in qv.select(
            "vec_id", _lloyd_assign(qv, centers).alias("cluster")
        ).collect()
    }
    got = {
        (r["vec_id"], r["cluster"])
        for r in stored.select("vec_id", "cluster").collect()
    }
    assert got == want


@pytest.mark.slow
def test_batch_append_tear_is_detected(spark, tmp_path, monkeypatch):
    """The BATCH append paths (row append + stats overwrite) are not
    crash-atomic by design — the staged streaming path is the
    crash-safe ingest.  What they must never do is serve silently
    drifted scores: a crash between the row append and the stats write
    leaves the _append_pending marker, every reader refuses loudly,
    and a rebuild (the documented recovery) clears it."""
    import pyspark.sql.functions as F

    import pithos_spark.functions.layoutcommit as lc
    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval, text
    from pithos_spark.streaming.ingest import bm25_topk_with_staged

    docs = T.load_tables(spark, SF_ORACLE)["documents"]
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)

    def _boom(*_a, **_kw):
        raise RuntimeError("injected crash")

    p_layout = str(tmp_path / "postings_torn")
    retrieval.write_postings_layout(base, p_layout)
    monkeypatch.setattr(lc, "write_tiny_table", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        retrieval.append_to_postings_layout(delta, p_layout)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="torn"):
        retrieval.bm25_topk_from_postings(spark, p_layout).collect()
    with pytest.raises(RuntimeError, match="torn"):
        bm25_topk_with_staged(spark, p_layout).collect()
    # rebuild = recovery: the marker clears and serving matches a
    # one-pass full-corpus layout
    retrieval.write_postings_layout(docs, p_layout)
    fresh = str(tmp_path / "postings_fresh")
    retrieval.write_postings_layout(docs, fresh)
    assert [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, p_layout).collect()
    ] == [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, fresh).collect()
    ]

    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    t_layout = str(tmp_path / "trigram_torn")
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), t_layout)
    monkeypatch.setattr(lc, "write_tiny_table", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        text.append_to_trigram_lm_layout(lm.filter("doc_id % 40 = 0"), t_layout)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="torn"):
        text.trigram_heldout_from_layout(score, t_layout).collect()
    text.write_trigram_lm_layout(lm, t_layout)  # rebuild clears it
    t_fresh = str(tmp_path / "trigram_fresh")
    text.write_trigram_lm_layout(lm, t_fresh)
    from pithos_spark.plans.helpers import reset_persist_slots

    reset_persist_slots()
    got = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, t_layout).collect()
    ]
    reset_persist_slots()
    want = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, t_fresh).collect()
    ]
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_ann_append_tear_is_detected(spark, tmp_path, monkeypatch):
    """VERDICT r15 task 4: the three ANN layout appends get the same
    torn-marker contract as postings/grams.  Kill each append before
    its marker clears (the worst window — delta rows already visible):
    every serving entry refuses loudly, a RETRY of the append refuses
    too (it would double-append code/assignment rows — duplicate
    vec_id candidates in every dedup tier and duplicate top-k rows),
    and a rebuild serves bit-identical to a one-pass index."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim

    emb = T.load_tables(spark, SF_ORACLE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    def _boom(*_a, **_kw):
        raise RuntimeError("injected crash")

    # --- PQ ---------------------------------------------------------
    path = str(tmp_path / "pq_torn")
    sim.save_pq_index(base, path)
    monkeypatch.setattr(sim, "end_append", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.append_to_pq_index(delta, path)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="torn"):
        sim.pq_topk_from_layout(emb, path, 0, 10).collect()
    with pytest.raises(RuntimeError, match="torn"):
        sim.pq_code_bucket_stats_from_layout(spark, path).collect()
    with pytest.raises(RuntimeError, match="torn"):
        sim.append_to_pq_index(delta, path)  # retry would double-append
    sim.save_pq_index(emb, path)  # rebuild = recovery
    fresh = str(tmp_path / "pq_fresh")
    sim.save_pq_index(emb, fresh)
    assert [
        tuple(r) for r in sim.pq_topk_from_layout(emb, path, 0, 10).collect()
    ] == [
        tuple(r) for r in sim.pq_topk_from_layout(emb, fresh, 0, 10).collect()
    ]

    # --- IVF --------------------------------------------------------
    path = str(tmp_path / "ivf_torn")
    assigned, centers = sim.build_ivf_lloyd_index(base, 8, 1)
    sim.save_ivf_index(assigned, centers, path)
    monkeypatch.setattr(sim, "end_append", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.append_to_ivf_index(delta, path)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="torn"):
        sim.load_ivf_index(spark, path)
    with pytest.raises(RuntimeError, match="torn"):
        sim.semantic_dedup_pairs_from_layout(spark, path).collect()
    with pytest.raises(RuntimeError, match="torn"):
        sim.append_to_ivf_index(delta, path)
    a_full, c_full = sim.build_ivf_lloyd_index(emb, 8, 1)
    sim.save_ivf_index(a_full, c_full, path)  # rebuild = recovery
    fresh = str(tmp_path / "ivf_fresh")
    sim.save_ivf_index(a_full, c_full, fresh)
    assert [
        tuple(r)
        for r in sim.semantic_dedup_pairs_from_layout(spark, path).collect()
    ] == [
        tuple(r)
        for r in sim.semantic_dedup_pairs_from_layout(spark, fresh).collect()
    ]

    # --- residual IVFADC ---------------------------------------------
    path = str(tmp_path / "ivfpq_torn")
    sim.save_ivfpq_residual_index(base, path)
    monkeypatch.setattr(sim, "end_append", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.append_to_ivfpq_residual_index(delta, path)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="torn"):
        sim.ivfpq_residual_topk_from_layout(emb, path, 0, 10).collect()
    with pytest.raises(RuntimeError, match="torn"):
        sim.ivfpq_residual_batch_topk_from_layout(
            emb, path, [0, 1], 10
        ).collect()
    with pytest.raises(RuntimeError, match="torn"):
        sim.append_to_ivfpq_residual_index(delta, path)
    sim.save_ivfpq_residual_index(emb, path)  # rebuild = recovery
    fresh = str(tmp_path / "ivfpq_fresh")
    sim.save_ivfpq_residual_index(emb, fresh)
    assert [
        tuple(r)
        for r in sim.ivfpq_residual_topk_from_layout(
            emb, path, 0, 10
        ).collect()
    ] == [
        tuple(r)
        for r in sim.ivfpq_residual_topk_from_layout(
            emb, fresh, 0, 10
        ).collect()
    ]


@pytest.mark.slow
def test_rebuild_resets_compacted_layout(spark, tmp_path, monkeypatch):
    """ADVICE r15: 'rebuild the layout' is the documented torn-append
    recovery — but on a previously-COMPACTED layout the old CURRENT
    pointer kept readers on the superseded generation (where the torn
    marker lives), so the rebuild never became visible and the refusal
    never cleared.  write_*_layout must cut the pointer back to its
    fresh generation 0 and GC the old generations and staging."""
    import os

    import pyspark.sql.functions as F

    import pithos_spark.functions.layoutcommit as lc
    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval

    docs = T.load_tables(spark, SF_ORACLE)["documents"]
    layout = str(tmp_path / "postings_rebuild")
    retrieval.write_postings_layout(
        docs.filter("doc_id % 4 = 0"), layout
    )
    # stage one segment and compact: CURRENT now names fold_gen_0
    src = str(tmp_path / "rebuild_src")
    docs.filter("doc_id % 4 = 1").write.parquet(src)
    q = ing.streaming_postings_ingest(
        spark.readStream.schema(docs.schema).parquet(src),
        layout,
        str(tmp_path / "rebuild_ckpt"),
    )
    q.awaitTermination(120)
    q.stop()
    ing.compact_staged_postings(spark, layout)
    root = lc.read_current(layout)
    assert root != layout and "fold_gen_" in root

    # tear an append at the live (fold) generation
    monkeypatch.setattr(lc, "write_tiny_table", _torn_boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        retrieval.append_to_postings_layout(
            docs.filter("doc_id % 4 = 2"), layout
        )
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="torn"):
        retrieval.bm25_topk_from_postings(spark, layout).collect()

    # rebuild — must become visible AND clear the refusal
    retrieval.write_postings_layout(docs, layout)
    assert lc.read_current(layout) == layout  # pointer cut to gen 0
    assert not os.path.exists(f"{layout}/CURRENT")
    leftovers = [
        n
        for n in os.listdir(layout)
        if n.startswith("fold_gen_") or n.startswith("staged")
    ]
    assert leftovers == [], leftovers
    fresh = str(tmp_path / "postings_rebuild_fresh")
    retrieval.write_postings_layout(docs, fresh)
    assert [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, layout).collect()
    ] == [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, fresh).collect()
    ]


def _torn_boom(*_a, **_kw):
    raise RuntimeError("injected crash")


def test_segment_token_survives_restart_not_recreation(tmp_path):
    """ADVICE r15: the staging token must be stable across restarts of
    the SAME checkpoint (segment installs stay idempotent) but FRESH
    for a recreated checkpoint at the same path — a path-derived token
    reused seg keys already in a live generation's folded mask, so a
    recreated stream's segments were masked at read and GC'd at
    compaction (silent loss)."""
    import shutil as _sh

    from pithos_spark.functions.layoutcommit import segment_token

    ckpt = str(tmp_path / "ckpt")
    t1 = segment_token(ckpt)
    assert t1 and segment_token(ckpt) == t1  # restart: same token
    _sh.rmtree(ckpt)
    t2 = segment_token(ckpt)  # recreated checkpoint: new namespace
    assert t2 and t2 != t1


@pytest.mark.slow
def test_trigram_append_preserves_unknown_segment_count(
    spark, tmp_path
):
    """ADVICE r15 (high): a layout written before the n_segments
    column existed reads as 'unknown' (0 = always merge).  One append
    must NOT turn that into n_segments=1 — the layout may already hold
    several partial rows per gram, and the one-segment fast path would
    skip the LSM merge and fan out every scoring join.  Unknown stays
    unknown (0), the merge keeps running, and scores match a one-pass
    rebuild."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import text
    from pithos_spark.functions.layoutcommit import write_tiny_table
    from pithos_spark.plans.helpers import reset_persist_slots

    docs = T.load_tables(spark, SF_ORACLE)["documents"]
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    path = str(tmp_path / "tri_premeta")
    # a pre-n_segments layout that ALREADY holds two partials per gram
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), path)
    text.append_to_trigram_lm_layout(
        lm.filter("doc_id % 40 = 0 and doc_id % 80 = 0"), path
    )
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    write_tiny_table(
        spark.createDataFrame(
            [(int(stats["n_total"]), int(stats["n_buckets"]))],
            "n_total long, n_buckets int",
        ),
        f"{path}/stats",
    )
    # the append under test, onto the pre-meta (unknown-segments) layout
    text.append_to_trigram_lm_layout(
        lm.filter("doc_id % 40 = 0 and doc_id % 80 <> 0"), path
    )
    after = spark.read.parquet(f"{path}/stats").collect()[0]
    assert int(after["n_segments"]) == 0  # unknown stays unknown
    full = str(tmp_path / "tri_premeta_full")
    text.write_trigram_lm_layout(lm, full)
    reset_persist_slots()
    got = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, path).collect()
    ]
    reset_persist_slots()
    want = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, full).collect()
    ]
    assert got == want and len(got) > 0
