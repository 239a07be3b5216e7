"""Physical-plan assertions: the properties that make the operators hold
at 100 TB.  These are the checks behind every "scale note" docstring —
if a code change regresses pushdown/broadcast/top-k shape, this fails
before any benchmark does."""

import re

import pytest

pytestmark = pytest.mark.slow  # full-gate: excluded from `pytest -m quick`

from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def tables(spark):
    from pithos_spark import tables as T

    return T.load_tables(spark, SF_ORACLE)


def test_listing_pushes_range_filter_to_scan(tables):
    from pithos_spark import tables as T
    from pithos_spark.operators.listing import list_objects

    df = list_objects(T.objects_df(tables), "NATION_2", "1-URGENT/", "/")
    plan = _plan(df)
    # the prefix range must reach the parquet scan as pushed filters on
    # the *source* column (o_orderpriority via the key is derived, but
    # bucket resolution pushes the nation equality into the dim scans)
    assert "PushedFilters: [" in plan
    # the final page must be distributed top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_point_lookup_pushes_equality(tables, spark):
    import pyspark.sql.functions as F

    li = tables["lineitem"].filter(F.col("l_orderkey") == 42).select("l_quantity")
    plan = _plan(li)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(l_orderkey,42)" in m.group(1)
    # column pruning: only the needed columns reach the ReadSchema
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert "l_quantity" in m.group(1) and "l_extendedprice" not in m.group(1)


def test_descriptor_join_broadcasts_dimension(tables):
    from pithos_spark.registry import QUERIES

    df = QUERIES["object_descriptor"](
        tables["nation"].sparkSession, SF_ORACLE
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_is_partial_agg_no_expand(tables, spark):
    from pithos_spark.operators.analytics import pricing_summary

    plan = _plan(pricing_summary(tables["lineitem"]))
    # two-phase hash aggregation (map-side partial) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_query_avoids_global_sort(tables):
    from pithos_spark.operators.analytics import top_unshipped_orders

    plan = _plan(
        top_unshipped_orders(tables["lineitem"], tables["orders"], tables["customer"])
    )
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_products_in_registry_plans(spark):
    """Every registry query must be joinable without a cartesian blowup
    (the one intentional 1-row cross join — the ANN query side — is
    broadcast, which is fine)."""
    from concurrent.futures import ThreadPoolExecutor

    from pithos_spark.registry import QUERIES

    # Several registry callables run eager driver-side training
    # collects at construction time; submitting them from a thread
    # pool overlaps those jobs (guide §2.6) — this sweep was the
    # suite's single slowest test (149 s serial).  Plan text is
    # assembled after all futures settle so failures stay attributed.
    def _one(item):
        name, fn = item
        return name, _plan(fn(spark, SF_ORACLE))

    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, plan in pool.map(_one, sorted(QUERIES.items())):
            assert "CartesianProduct" not in plan, name


def test_q6_pushes_all_predicates_to_scan(tables, spark):
    """Q6's whole WHERE clause must reach the parquet scan as pushed
    filters — at 100 TB this is the difference between reading one
    year's row groups and reading the table."""
    from pithos_spark.operators.analytics import forecast_revenue

    # the default 100-char metadata truncation hides the filter list
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(forecast_revenue(tables["lineitem"]))
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(1), f"{col} not pushed: {pushed.group(1)}"


def test_q17_stats_side_broadcasts(tables):
    """The decorrelated per-part AVG joins back to the fact rows as a
    broadcast — the fact table must not shuffle twice."""
    from pithos_spark.operators.analytics import small_quantity_revenue

    plan = _plan(small_quantity_revenue(tables["lineitem"], tables["part"]))
    assert "BroadcastHashJoin" in plan


def test_q13_outer_join_preserves_zero_bucket(tables):
    """Q13's LEFT OUTER join must stay outer through optimization (a
    dropped zero-bucket silently corrupts the histogram)."""
    from pithos_spark.operators.analytics import customer_order_distribution

    plan = _optimized(customer_order_distribution(tables["customer"], tables["orders"]))
    assert "LeftOuter" in plan, plan


def test_q9_broadcasts_all_dimensions(tables):
    """Q9's five-table join must broadcast part/supplier/nation — the
    only allowed wide shuffle is lineitem-orders on orderkey."""
    from pithos_spark.operators.analytics import product_profit

    plan = _plan(
        product_profit(
            tables["lineitem"], tables["part"], tables["supplier"],
            tables["nation"], tables["orders"],
        )
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q21_single_wide_shuffle_no_expand(tables):
    """Q21's pair reformulation must not plan an Expand (the
    count-distinct rewrite) — one dedup aggregation over the pairs."""
    from pithos_spark.operators.analytics import waiting_suppliers

    plan = _plan(
        waiting_suppliers(tables["lineitem"], tables["supplier"], tables["nation"])
    )
    assert "Expand" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q11_total_is_broadcast_cross_join(tables):
    """The global-total scalar must broadcast into the HAVING compare,
    never a cartesian product."""
    from pithos_spark.operators.analytics import important_brands

    plan = _plan(important_brands(tables["lineitem"], tables["part"]))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_curation_gates_reach_the_scan(tables, spark):
    """The curation pipeline's language filter must push to the parquet
    scan (the length/token gates are derived, but lang is a source
    column — at 100 TB this prunes entire row groups)."""
    import re as _re

    from pithos_spark.functions.curate import curate_corpus

    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(curate_corpus(tables["documents"], tables["embeddings"]))
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    pushed = _re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("lang" in p for p in pushed), pushed


def test_pii_redact_is_pure_scan_projection(tables):
    """The privacy scrub must run at I/O speed: no joins, no exchanges —
    a single whole-stage-codegen projection over the scan."""
    from pithos_spark.functions.curate import pii_redact

    plan = _plan(pii_redact(tables["documents"]))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Scan parquet" in plan


def test_bm25_broadcasts_stats_and_df(tables):
    """BM25's per-doc score needs only broadcast (N, TL, df) joins —
    never a shuffle of the corpus against itself."""
    from pithos_spark.functions.retrieval import bm25_topk

    plan = _plan(bm25_topk(tables["documents"]))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # top-k must be distributed, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_minhash_candidates_never_go_quadratic(tables):
    """The LSH plan must stay candidate-restricted: no cartesian product
    anywhere, and the small sides (sizes, candidate pairs) broadcast
    into the verify joins rather than shuffling the shingle table more
    than its required doc/shingle partitionings."""
    from pithos_spark.functions.dedup import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(tables["documents"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_lloyd_ivf_probe_broadcasts_centers(tables):
    """Query-time IVF work is a broadcast of the tiny centers table plus
    the probed lists — the corpus is never shuffled per query."""
    from pithos_spark.functions.similarity import (
        build_ivf_lloyd_index,
        ivf_query,
    )

    assigned, centers = build_ivf_lloyd_index(tables["embeddings"])
    plan = _plan(
        ivf_query(assigned, centers, 0, 10, 4, cluster_col="cluster", metric="l2")
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_side(tables):
    """The eval set is tiny by construction; the gram join must
    broadcast it so the training side never shuffles."""
    from pithos_spark.functions.curate import decontaminate

    plan = _plan(decontaminate(tables["documents"]))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_retention_broadcasts_cohorts(tables):
    from pithos_spark.streaming.events import retention_cohorts

    plan = _plan(retention_cohorts(tables["events"]))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_duplicate_spans_shuffles_hashes_not_text(tables):
    """The span group-by must key on the 8-byte hash; no span STRING
    column may survive into any Exchange."""
    from pithos_spark.functions.curate import duplicate_spans

    plan = _plan(duplicate_spans(tables["documents"]))
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "gram" not in m.group(1), m.group(0)


def test_gapfill_grid_is_broadcast_joined(tables):
    from pithos_spark.streaming.events import hourly_gapfill

    plan = _plan(hourly_gapfill(tables["events"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dispatch_resolution_is_broadcast_only(tables, spark):
    """Request-log operation resolution must be a scan-side projection
    plus broadcast joins (opmap + dims) — the only Exchange allowed
    before the final rollup/sort is the bounded group-by."""
    from pithos_spark.operators.dispatch import (
        opmap_df,
        resolve_operations_summary,
        synth_requests,
    )

    plan = _plan(
        resolve_operations_summary(synth_requests(tables), opmap_df(spark))
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_projected_topk_avoids_global_sort(tables):
    """Both ANN stages (projected shortlist, exact rerank) must compile
    to TakeOrderedAndProject — per-partition top-k + k-row merge, never
    a full sort of the corpus."""
    from pithos_spark.functions.similarity import projected_topk

    plan = _plan(projected_topk(tables["embeddings"], 0, 10))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_api_traffic_resolution_stays_broadcast(tables, spark):
    """events_api_traffic: request derivation + operation resolution
    must add no shuffle beyond the bounded hourly rollup — broadcast
    opmap join only."""
    from pithos_spark.operators.dispatch import (
        api_traffic_hourly,
        opmap_df,
    )

    plan = _plan(api_traffic_hourly(tables["events"], opmap_df(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly: one partial+final agg exchange and the output sort
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_funnel_is_one_scan_one_exchange(spark, tables):
    """The sequenced funnel must gather per-user step times in ONE
    grouped aggregation: a single corpus scan and a single user-keyed
    exchange (the r8 rewrite — the stage-chained form re-scanned the
    corpus up to 2K-1 times for a K-step funnel because column pruning
    specialized each stage's copy of the upstream agg)."""
    from pithos_spark.streaming.events import funnel

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(funnel(tables["events"]))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_heavy_hitters_gate_reuses_count_exchange(spark):
    """events_heavy_hitters must build the per-(type, user) count
    exchange ONCE and share it across its three consumers (exact side,
    totals re-agg, sketch input): with AQE off the second and third
    references collapse to ReusedExchange — one corpus scan, not
    three.  Guards the explicit pre-join IsNotNull alignment: a
    consumer-specific pushdown would silently fork extra scans."""
    from pithos_spark.registry import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(QUERIES["events_heavy_hitters"](spark, SF_ORACLE))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("ReusedExchange") >= 2, plan
    assert plan.count("Scan parquet") == 1, plan


def test_source_overlap_reuses_signature_exchange(spark, tables):
    """The source-overlap self-join must compute the heavy shingle
    aggregation ONCE: with exchange reuse visible statically (AQE off,
    where reuse appears in the plan rather than at stage runtime), the
    signature subtree's second reference collapses to a ReusedExchange —
    one corpus scan, not two."""
    from pithos_spark.functions.dedup import source_minhash_similarity

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(source_minhash_similarity(tables["documents"]))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_postings_read_pushes_term_filter(spark, tables, tmp_path):
    """The materialized postings serving path must read ONLY the query
    terms' posting lists: the `term IN (...)` filter has to reach the
    parquet scan as a pushed filter (the term-range layout then makes
    it row-group skipping), and the stats/df sides must broadcast —
    the r8 rewrite this guards replaced a full-corpus re-tokenize per
    query (retrieval.py:150-217)."""
    from pithos_spark.functions import retrieval

    path = str(tmp_path / "postings_layout")
    retrieval.write_postings_layout(tables["documents"], path)
    plan = _plan(retrieval.bm25_topk_from_postings(spark, path))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("In(term" in p for p in pushed), plan
    # serving never rescans the corpus: both parquet scans are the
    # layout's own (postings + 1-row stats), not documents
    assert "documents" not in plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_cluster_prototypes_broadcasts_centroids_no_pairs(tables):
    """Prototype ranking is ONE broadcast join of the k-row centroid
    table plus a per-cluster window — no self-join, no candidate-pair
    generation (unlike the dedup consumers of the same Lloyd index),
    so there is nothing for a degenerate cluster to explode."""
    from pithos_spark.functions.similarity import (
        build_ivf_lloyd_index,
        cluster_prototypes,
    )

    idx = build_ivf_lloyd_index(tables["embeddings"], 4, 1)
    plan = _plan(cluster_prototypes(tables["embeddings"], index=idx))
    assert "BroadcastExchange" in plan, plan
    # exactly one embeddings scan feeds the ranking (the index build is
    # a separate, cached step) and no join multiplies corpus rows
    assert plan.count("SortMergeJoin") == 0, plan


def test_mask_consumes_interval_list(spark, tables):
    """VERDICT r9 #5: mask_duplicate_spans joins the COMPACT merged
    interval list back onto the corpus — not the n-fold per-position
    explode + collect_set the old form shipped.  The plan must carry
    the interval aggregation (collect_list of [start, end) structs),
    no position-set aggregation, and exactly one range exchange (the
    final presentation sort; the interval build must not inherit
    duplicate_spans' own orderBy)."""
    from pithos_spark.functions.curate import mask_duplicate_spans

    plan = _plan(mask_duplicate_spans(tables["documents"]))
    assert "collect_set" not in plan, plan
    assert "collect_list" in plan, plan
    assert plan.count("rangepartitioning") == 1, plan


def test_containment_caches_universe_once_and_broadcasts_hot_set(
    spark, tables
):
    """containment_pairs must (a) cache the shingle explode and the
    capped universe — every consumer (df agg, hot-set anti-join, sizes
    agg, both self-join sides) reads an InMemoryTableScan rather than
    re-running the corpus explode (the parquet scan only appears
    inside the cached relations' reprinted definitions) — and (b) ship
    the (tiny) hot-shingle exclusion set as a broadcast anti-join,
    never a shuffled one."""
    from pithos_spark.functions.dedup import containment_pairs

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(containment_pairs(tables["documents"]))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # the self-join sides + sizes agg read the cached universe, the df
    # agg and hot set read the cached shingles: >=4 cache reads, and no
    # parquet scan OUTSIDE a cached relation's definition (every "Scan
    # parquet" line in the formatted tree sits under an InMemoryRelation
    # reprint, i.e. the corpus is exploded exactly once at populate time)
    import re

    assert plan.count("InMemoryTableScan") >= 4, plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan


def test_epoch_shuffle_broadcasts_epoch_grid_no_global_sort(
    spark, tables
):
    """epoch_shuffle's epoch grid must attach as a broadcast nested
    loop over a 1-row-per-epoch side (the gapfill hour-grid shape),
    and the ranking must partition by (epoch, shard) — no global sort
    before the final presentation ordering (one Sort for the window,
    one TakeOrdered/Sort for presentation, nothing else)."""
    from pithos_spark.functions.curate import epoch_shuffle

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(epoch_shuffle(tables["documents"]))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "hashpartitioning(epoch" in plan, plan


def test_fingerprint_tiers_share_one_scan_and_band_join(spark, tables):
    """Each perceptual tier (audio, video) must compute its fingerprints
    from ONE corpus scan (the pivot side reuses the fingerprint
    exchange) and generate candidates through the banded equi-join —
    never a cartesian or corpus-wide sort-merge of payloads."""
    from pithos_spark.functions.dedup import audio_near_pairs, video_near_pairs
    from pithos_spark.plans.helpers import reset_persist_slots

    # measure the fresh-session plan shape: a fingerprint slot left
    # populated by an earlier test would print cache nodes (or keep raw
    # scans beside a non-substitutable cache) and double the scan count
    reset_persist_slots()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for fn in (audio_near_pairs, video_near_pairs):
            plan = _plan(fn(tables["documents"]))
            assert plan.count("Scan parquet") <= 2, (fn.__name__, plan)
            assert "CartesianProduct" not in plan, fn.__name__
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
                "BroadcastHashJoin" in plan, fn.__name__
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_incremental_containment_caches_index_and_broadcasts_hot(
    spark, tables
):
    """The crawl-delta containment must cache the corpus shingle index
    (both its consumers — the hot-set agg and the posting side — read
    InMemoryTableScan) and ship the hot-shingle set as broadcast
    anti-joins on BOTH sides."""
    import pyspark.sql.functions as F

    from pithos_spark.functions.dedup import incremental_containment_pairs

    d = tables["documents"]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(
            incremental_containment_pairs(
                d.filter(F.col("doc_id") >= 400),
                d.filter(F.col("doc_id") < 400),
            )
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert len(re.findall(r"BroadcastHashJoin .*LeftAnti", plan)) >= 2, plan


def test_trigram_probe_prunes_gram_buckets(spark, tables, tmp_path):
    """The materialized trigram-LM layout's PROBE path (r12, VERDICT
    r11 task 4) must read only the gram-bucket partitions the probe's
    own grams hash into: every one of the five count-table scans gets a
    static `b IN (...)` PartitionFilter with FEWER than all n_buckets
    values for a small probe — partition pruning, not row filtering."""
    import pyspark.sql.functions as F

    from pithos_spark.functions import text

    path = str(tmp_path / "trigram_lm_layout")
    docs = tables["documents"]
    # n_buckets pinned at 32: the auto-size floor is now 4 for tiny LMs
    # (VERDICT r15 task 2), which a one-document probe can saturate —
    # the pruning DEMONSTRATION needs enough buckets that the probe's
    # gram set provably misses some
    text.write_trigram_lm_layout(
        docs.filter("doc_id % 4 = 0"), path, n_buckets=32
    )
    probe = docs.filter("doc_id = 1")
    plan = _plan(text.trigram_probe_from_layout(probe, path))
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    in_filters = [p for p in pf if "b#" in p and ("IN" in p or "INSET" in p)]
    assert len(in_filters) == 5, plan
    # one document's grams cannot span all 32 buckets — at least one
    # scan must actually prune (the INSET lists fewer than 32 values)
    assert any(len(p.split(",")) < 32 for p in in_filters), in_filters
    # exactly one documents scan — the PROBE's own, pushed to doc_id=1;
    # the LM corpus never rescans at serve time
    assert plan.count("documents.parquet") == 1, plan
    assert "EqualTo(doc_id,1)" in plan


def test_pq_layout_serving_reads_codes_not_lloyd(spark, tables, tmp_path):
    """The persisted-PQ serving path (r12, VERDICT r11 task 3) must be
    a pure read: the anti-query vec_id filter pushes into the code
    table scan, the M x K ADC LUT joins broadcast, the rank cut
    compiles to a LIMITed TakeOrderedAndProject (distributed top-k,
    no single-partition global sort), and — the point of the layout —
    NO ArrowEvalPython (Lloyd assignment) appears anywhere in the
    serving plan."""
    from pithos_spark.functions import similarity

    emb = tables["embeddings"]
    path = str(tmp_path / "pq_index")
    similarity.save_pq_index(emb, path)
    plan = _plan(similarity.pq_topk_from_layout(emb, path, 0, 10))
    assert "ArrowEvalPython" not in plan, plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("Not(EqualTo(vec_id,0))" in p for p in pushed), plan
    assert "BroadcastHashJoin" in plan
    # rerank*k = 40 candidate cut and the final top-10, both as
    # distributed top-k operators
    assert "TakeOrderedAndProject(limit=40" in plan, plan
    assert "TakeOrderedAndProject(limit=10" in plan, plan


def test_pq_filtered_pushes_label_into_code_scan(spark, tables, tmp_path):
    """Filtered PQ serving must read the label predicate off the CODE
    table (the label rides in the layout), not scan the embeddings
    table to build an id slice: the codes scan carries the pushed
    EqualTo(label,3), and the only embeddings scans are the 1-row query
    lookups / rerank side."""
    from pithos_spark.functions import similarity

    emb = tables["embeddings"]
    path = str(tmp_path / "pq_index_f")
    similarity.save_pq_index(emb, path)
    plan = _plan(
        similarity.pq_filtered_topk_from_layout(emb, path, 0, 3, 10)
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(
        "EqualTo(label,3)" in p and "Not(EqualTo(vec_id,0))" in p
        for p in pushed
    ), plan
    assert "ArrowEvalPython" not in plan
    # every embeddings scan is either the pushed 1-row query lookup or
    # the rerank join side — no full-table label sweep
    emb_scans = [
        p for p in pushed if "EqualTo(vec_id,0)" in p or "label" not in p
    ]
    assert not any(
        "EqualTo(label,3)" in p and "vec_id" not in p for p in pushed
    ), plan


def test_tfidf_explodes_corpus_once(spark, tables):
    """corpus_top_terms_tfidf's token explode is multi-consumed (tf agg
    + df distinct): both forks must read the persisted explode
    (InMemoryTableScan), never re-scan and re-explode the corpus
    (VERDICT r12 task 3).  The only remaining raw documents scans are
    the cache's own build subtree and the 1-row n_docs count."""
    from pithos_spark.plans.helpers import reset_persist_slots
    from pithos_spark.registry import QUERIES

    reset_persist_slots()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(QUERIES["corpus_top_terms_tfidf"](spark, SF_ORACLE))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("InMemoryTableScan") >= 2, plan
    # every explode in the printout belongs to a cached subtree (the
    # plan string reprints the InMemoryRelation's build plan under each
    # scan); an explode OUTSIDE one would mean a fork re-derived it
    assert plan.count("Generate explode") == plan.count(
        "InMemoryRelation"
    ), plan


def test_decode_coverage_shuffles_partials_not_assets(spark, tables):
    """decode_coverage counts inside the Arrow stage: the exchange
    above the mapInPandas must carry the partial-count rows (the
    5-column COVERAGE_SCHEMA), and the final agg must be a sum-merge
    over them — no corpus-width shuffle, no per-asset rows past the
    Python stage."""
    from pithos_spark.sources.multimodal import media_decode_coverage

    plan = _plan(media_decode_coverage(tables["documents"]))
    assert "MapInPandas" in plan, plan
    # partial_sum then final sum-merge above the Python stage
    assert "partial_sum" in plan or "Partial" in plan, plan
    # the payload/meta columns never cross an exchange: only the five
    # partial-count columns (+ hash) appear in the shuffle output
    import re as _re

    ex = _re.search(r"Exchange hashpartitioning\(media_type[^\n]*", plan)
    assert ex is not None, plan
    assert "payload" not in ex.group(0), ex.group(0)


def test_trigram_layout_merge_fast_path_and_single_exchange(
    spark, tables, tmp_path
):
    """VERDICT r14 task 5, both halves.

    (a) Fast path: on a one-segment layout (fresh build — stats says
    n_segments == 1) the LSM read-merge must not run at all: no
    ``sum(c3`` aggregate anywhere in the executed plan, so the r14
    merge rewrite costs a compacted/fresh layout nothing.

    (b) On a genuinely appended layout the merge runs as the r18 FUSED
    form (text._merged_counts_read): all five count tables in ONE
    tagged scan + ONE hash exchange on (_kind, _key) — not five
    per-table merges (the pre-r18 shape paid 5 scans + 5 exchanges =
    ~8 more scheduling round trips per serve, the VERDICT r17 task 3
    job-count cluster).  The merged cache then feeds the five
    broadcast sides."""
    from pithos_spark.functions import text
    from pithos_spark.plans.helpers import reset_persist_slots

    docs = tables["documents"]
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")

    def final_plan(df):
        df.collect()  # AQE: materialize so the final plan is real
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    fresh = str(tmp_path / "tri_fast_fresh")
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), fresh)
    reset_persist_slots()
    plan = final_plan(text.trigram_heldout_from_layout(score, fresh))
    assert "sum(c3" not in plan, plan

    appended = str(tmp_path / "tri_fast_appended")
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), appended)
    text.append_to_trigram_lm_layout(lm.filter("doc_id % 40 = 0"), appended)
    reset_persist_slots()
    df = text.trigram_heldout_from_layout(score, appended)
    plan = final_plan(df)
    # the merge runs — as the single tagged aggregate, not five
    # per-table sum(c3)/sum(cbi)/... merges
    assert "sum(c3" not in plan, plan
    # the five count views read the ONE persisted merged table
    merged_plan = (
        df._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" in merged_plan, merged_plan
    # and the merge itself is a single (_kind, _key) exchange: probe
    # the cached plan rather than the serving plan (the cache hides
    # its build subtree behind InMemoryTableScan here)
    from pithos_spark.functions.text import (
        _TRIGRAM_COUNT_TABLES,
        _merged_counts_read,
    )
    from pithos_spark.functions.layoutcommit import read_current

    root = read_current(appended)
    reset_persist_slots()
    merged_counts = _merged_counts_read(
        spark, {c: [f"{root}/{c}"] for _, c in _TRIGRAM_COUNT_TABLES}
    )
    build_plan = (
        merged_counts["c3"]._jdf.queryExecution().executedPlan().toString()
    )
    kind_exchanges = re.findall(
        r"Exchange hashpartitioning\(_kind#\d+", build_plan
    )
    assert len(kind_exchanges) == 1, build_plan
    reset_persist_slots()


def test_registry_trigram_from_layout_takes_fast_path(spark):
    """VERDICT r15 task 2: the r14 fast path was proven on hand-built
    layouts while the BENCH median doubled anyway — so pin it on the
    EXACT registry callable the bench times.  The registry's layout is
    a fresh build (n_segments == 1), so the executed plan of
    ``corpus_trigram_heldout_from_layout`` must contain no LSM-merge
    aggregate (no ``sum(c3``), and the layout the registry cached must
    carry the small-LM bucket floor (auto-size ≤ a handful of ``b=``
    dirs at oracle scale — the 32-dir floor was the r15 serving tax)."""
    from pithos_spark import registry
    from pithos_spark.plans.helpers import reset_persist_slots

    reset_persist_slots()
    df = registry.QUERIES["corpus_trigram_heldout_from_layout"](
        spark, SF_ORACLE
    )
    df.collect()  # AQE: materialize so the final plan is real
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "sum(c3" not in plan, plan

    # the cached layout the bench serves from: stats must record the
    # re-floored bucket count (a sf0.01 LM is far under 100k grams)
    path = registry._trigram_layout_path(spark, SF_ORACLE)
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    assert int(stats["n_buckets"]) <= 8, stats
    assert int(stats["n_segments"]) == 1, stats


def test_no_coalesce_1_in_package():
    """VERDICT r14 task 7: ``coalesce(1)`` on a driver-built local
    relation serializes all 32 slice partitions through ONE output
    task that re-opens each slice's Python worker (~4.5-5.7 s per
    small-table write, SCALE_r14 §2).  Every tiny-table write goes
    through layoutcommit.write_tiny_table (repartition(1)); this grep
    keeps the regression class out of the package for good."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pithos_spark"
    offenders = [  # the dot matches the call form, not docstring prose
        str(p)
        for p in root.rglob("*.py")
        if ".coalesce(1)" in p.read_text()
    ]
    assert offenders == [], offenders


def test_lsm_staged_listing_pushes_below_merge_window(spark, tables, tmp_path):
    """PLANS.md r17 `list_objects_with_staged` audit, pinned: the
    listing predicates must reach BOTH sides of the last-write-wins
    merge — the base generation scan via bucket partition-directory
    pruning plus the pushed object key range, the staged multi-path
    scan via the same PushedFilters — and Spark must bound the merge
    with WindowGroupLimit before the exchange.  If a change lifts the
    filter above the window, a single listing starts merging the whole
    table and the 100 TB claim in objects_with_staged's docstring is
    gone."""
    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions.layoutcommit import install_staged_segment
    from pithos_spark.registry import objects_lsm_mutations

    base = T.objects_df(tables)
    layout = str(tmp_path / "objects_lsm_plan")
    ing.save_objects_layout(base, layout)
    # install the two demo mutation batches as staged segments by hand
    # (the exact write streaming_objects_ingest's _ingest performs) —
    # the plan shape is the point here, not the stream machinery
    batch1, batch2 = objects_lsm_mutations(base)
    for i, b in enumerate([batch1, batch2]):
        seg = f"plan-{i}"
        tmp = f"{layout}/staged_tmp/seg={seg}"
        (
            b.withColumn(ing.OBJECTS_SEQ, F.lit(i).cast("long"))
            .repartition("bucket")
            .sortWithinPartitions("bucket", "object")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        install_staged_segment(tmp, f"{layout}/staged/seg={seg}")

    df = ing.list_objects_with_staged(
        spark, layout, "NATION_2", "1-URGENT/", "/"
    )
    plan = _plan(df)
    # the rank<=1 of last-write-wins compiles to a group limit on both
    # sides of the merge exchange, bounding its state
    assert "WindowGroupLimit" in plan, plan
    # base generation scan prunes the bucket partition directory
    assert re.search(
        r"PartitionFilters: \[[^\]]*bucket[^\]]*NATION_2", plan
    ), plan
    # ...and the object key range reaches both scans as pushed filters
    # (count the raw marker, not bracket captures — the plan printer
    # truncates long PushedFilters lists with an ellipsis)
    assert plan.count("GreaterThanOrEqual(object,1-URGE") >= 2, plan
