"""Storage-layout tests: writing the 100 TB layout and proving the
pruning it exists for (partition pruning on bucket, row-group locality
on sorted keys, chunk clustering)."""

import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE


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
    # appended rows (staged segments, read through the loader) carry
    # clusters of the frozen set: the cluster value set must not grow
    stored = similarity.load_ivfpq_residual_index(spark, path)[0]
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
    # the loader's view (base ∪ the appends' staged segments)
    g_post, g_stats = retrieval.load_postings_layout(spark, incr_path)
    w_post, w_stats = retrieval.load_postings_layout(spark, full_path)
    gs, ws = g_stats.collect()[0], w_stats.collect()[0]
    assert (gs["n_docs"], gs["total_len"]) == (ws["n_docs"], ws["total_len"])
    assert {tuple(r) for r in g_post.collect()} == {
        tuple(r) for r in w_post.collect()
    }


@pytest.mark.slow
def test_trigram_incremental_append_equals_one_pass(spark, layout_dir):
    """append_to_trigram_lm_layout (VERDICT r13 task 4): frozen bucket
    count, delta counts staged as per-segment partial rows in the SAME
    murmur3 buckets, readers LSM-merge per gram — so both scoring
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
    # the loader's view (base ∪ the appends' staged segments)
    counts, _, g_total, g_buckets, _ = text._load_trigram_layout(
        spark, incr_path
    )
    _, _, w_total, w_buckets, _ = text._load_trigram_layout(spark, full_path)
    assert (g_total, g_buckets) == (w_total, w_buckets)
    # appended grams hash into the frozen bucket space
    assert counts["c3"].select("b").distinct().count() <= w_buckets
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
def test_rebuild_resets_compacted_layout(spark, tmp_path):
    """ADVICE r15: on a previously-COMPACTED layout the old CURRENT
    pointer kept readers on the superseded generation, so a rebuild
    never became visible.  write_*_layout must cut the pointer back to
    its fresh generation 0 and GC the old generations and staging —
    a batch append's staged segment included."""
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

    # a batch append over the fold generation stages one segment
    retrieval.append_to_postings_layout(docs.filter("doc_id % 4 = 2"), layout)
    assert len(lc.staged_segment_keys(layout)) == 1

    # rebuild — must become visible
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
    column existed reads as 'unknown' (0 = always merge).  An append
    must NOT turn that into n_segments=1 — the base may already hold
    several partial rows per gram, and the one-segment fast path would
    skip the LSM merge and fan out every scoring join.  The append
    stages a segment and leaves the base's stats alone, so unknown
    stays unknown, the merge keeps running, and scores match a
    one-pass rebuild."""
    import os
    import shutil

    from pithos_spark import tables as T
    from pithos_spark.functions import text
    from pithos_spark.functions.layoutcommit import write_tiny_table
    from pithos_spark.plans.helpers import reset_persist_slots

    docs = T.load_tables(spark, SF_ORACLE)["documents"]
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    path = str(tmp_path / "tri_premeta")
    # a pre-n_segments layout whose base ALREADY holds two partials per
    # gram: a second slice's gram tables filed into the same buckets
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), path)
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    extra = text._trigram_windows(
        lm.filter("doc_id % 40 = 0 and doc_id % 80 = 0")
    )
    part = str(tmp_path / "tri_premeta_part")
    text.write_gram_tables(extra, int(stats["n_buckets"]), part)
    for d, _, files in os.walk(part):
        for f in files:
            if f.endswith(".parquet"):
                dest = os.path.join(path, os.path.relpath(d, part))
                os.makedirs(dest, exist_ok=True)
                shutil.move(os.path.join(d, f), os.path.join(dest, f))
    write_tiny_table(
        spark.createDataFrame(
            [(int(stats["n_total"]) + extra.count(), int(stats["n_buckets"]))],
            "n_total long, n_buckets int",
        ),
        f"{path}/stats",
    )
    # the append under test, onto the pre-meta (unknown-segments) layout
    text.append_to_trigram_lm_layout(
        lm.filter("doc_id % 40 = 0 and doc_id % 80 <> 0"), path
    )
    after = spark.read.parquet(f"{path}/stats").collect()[0].asDict()
    assert "n_segments" not in after  # unknown stays unknown
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


# the driver-side steps of a batch append, in order (each a module
# global of functions/layoutcommit.py, so the test can kill it): after
# the segment write, the footer count; the install rename; and, for the
# layouts with additive counters, the stats-row append
_APPEND_CRASH_POINTS = [
    "parquet_rows",
    "install_staged_segment",
    "append_staged_stats",
]


def _append_case(spark, kind):
    """(build, append, delta, read, has_stats) of one batch append at the
    smoke scale; ``read(path)`` is the layout's answer as plain rows."""
    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval, text
    from pithos_spark.functions import similarity as sim
    from pithos_spark.plans.helpers import reset_persist_slots

    t = T.load_tables(spark, SF_SMOKE)
    emb, docs = t["embeddings"], t["documents"]

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    base, delta = emb.filter("vec_id % 4 != 3"), emb.filter("vec_id % 4 = 3")
    if kind == "pq":
        return (
            lambda p: sim.save_pq_index(base, p),
            sim.append_to_pq_index,
            delta,
            lambda p: rows(sim.pq_topk_from_layout(emb, p, 7, 10)),
            False,
        )
    if kind == "residual":
        return (
            lambda p: sim.save_ivfpq_residual_index(base, p),
            sim.append_to_ivfpq_residual_index,
            delta,
            lambda p: rows(sim.ivfpq_residual_topk_from_layout(emb, p, 7, 10)),
            False,
        )
    if kind == "ivf":
        return (
            lambda p: sim.save_ivf_index(
                *sim.build_ivf_lloyd_index(base, 8, 1), p
            ),
            sim.append_to_ivf_index,
            delta,
            lambda p: rows(sim.ivf_topk_from_layout(spark, p, 7, 10)),
            False,
        )
    if kind == "postings":
        return (
            lambda p: retrieval.write_postings_layout(
                docs.filter("doc_id % 4 != 3"), p
            ),
            retrieval.append_to_postings_layout,
            docs.filter("doc_id % 4 = 3"),
            lambda p: rows(retrieval.bm25_topk_from_postings(spark, p)),
            True,
        )
    lm, score = docs.filter("doc_id % 4 = 0"), docs.filter("doc_id % 4 != 0")

    def heldout(p):
        reset_persist_slots()
        return rows(text.trigram_heldout_from_layout(score, p))

    return (
        lambda p: text.write_trigram_lm_layout(lm.filter("doc_id % 16 != 0"), p),
        text.append_to_trigram_lm_layout,
        lm.filter("doc_id % 16 = 0"),
        heldout,
        True,
    )


@pytest.mark.parametrize("kind", ["pq", "residual", "ivf", "postings", "trigram"])
def test_batch_append_retry(spark, tmp_path, monkeypatch, kind):
    """A batch append installs its delta as ONE staged segment keyed on
    the delta's content, so it is safe to retry.  Killed at each
    driver-side step in turn, the layout answers either as before the
    append (nothing installed) or as after it (the segment installed;
    a missing stats row is derived from its rows) — never a partial
    delta.  The retry then answers as the append does (which the
    append==rebuild contract tests tie to a one-pass build), with
    exactly one installed ``append-*`` segment, and a second retry
    after success installs nothing."""
    import pithos_spark.functions.layoutcommit as lc

    build, append, delta, read, has_stats = _append_case(spark, kind)
    layout = str(tmp_path / kind)
    build(layout)
    pre = read(layout)

    def _boom(*_a, **_kw):
        raise RuntimeError("injected crash")

    points = _APPEND_CRASH_POINTS if has_stats else _APPEND_CRASH_POINTS[:2]
    torn = {}
    for crash in points:
        monkeypatch.setattr(lc, crash, _boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            append(delta, layout)
        monkeypatch.undo()
        torn[crash] = read(layout)
    append(delta, layout)
    want = read(layout)
    assert want != pre
    for crash, got in torn.items():
        installed = crash == "append_staged_stats"
        assert got == (want if installed else pre), crash
    segs = lc.staged_segment_keys(layout)
    assert len(segs) == 1 and segs[0].startswith("append-"), segs
    append(delta, layout)
    assert lc.staged_segment_keys(layout) == segs
