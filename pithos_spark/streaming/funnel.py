"""Stateful streaming funnel: the incremental twin of
``streaming/events.funnel``.

The sequenced funnel (first view, then first click strictly after it,
then first purchase after that) is NOT incrementally computable from
step timestamps alone — a late-arriving earlier view can move t1 and
cascade through every later step.  So the state is the user's history
of *funnel-type* events (ts, type) and each micro-batch re-folds it;
the fold is O(|history|) with history bounded by the user's funnel
events (tiny — three event types, and production evicts by watermark
timeout).  This makes the operator arrival-order-independent: any
permutation of micro-batches converges to the batch answer, which the
test asserts by feeding the files through ``availableNow``.

Emitted rows: (user_id, stage) after each batch that touches the user —
stage in 0..len(steps), the number of funnel steps completed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STEPS = ("view", "click", "purchase")

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("stage", T.LongType()),
    ]
)

# history as parallel arrays: event micros + step index (0=view, ...)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("step_idx", T.ArrayType(T.IntegerType())),
    ]
)


def fold_stage(events: list[tuple[int, int]], n_steps: int) -> int:
    """Min-after-previous-step fold over (ts_us, step_idx) pairs — the
    exact batch semantics: t_k = min ts of step k strictly after
    t_{k-1}; stage = number of steps reached."""
    t_prev = None
    stage = 0
    for k in range(n_steps):
        cands = [
            ts
            for ts, si in events
            if si == k and (t_prev is None or ts > t_prev)
        ]
        if not cands:
            break
        t_prev = min(cands)
        stage += 1
    return stage


def _update_funnel(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    ts_hist, idx_hist = state.get if state.exists else ([], [])
    ts_hist = list(ts_hist)
    idx_hist = list(idx_hist)
    step_of = {s: i for i, s in enumerate(STEPS)}
    for pdf in pdfs:
        mask = pdf["event_type"].isin(STEPS)
        for ts, et in zip(pdf["ts"][mask], pdf["event_type"][mask]):
            # pandas Timestamp -> epoch micros, matching Spark micros
            ts_hist.append(int(ts.value // 1000))
            idx_hist.append(step_of[et])
    state.update((ts_hist, idx_hist))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "stage": [fold_stage(list(zip(ts_hist, idx_hist)), len(STEPS))],
        }
    )


def streaming_funnel_stages(stream_df):
    """Per-user funnel stage, updated each micro-batch the user appears
    in (update mode; read the latest row per user downstream)."""
    return stream_df.groupBy("user_id").applyInPandasWithState(
        _update_funnel,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_incremental_dedup(
    new_docs_stream,
    existing_docs,
    sink_path: str,
    checkpoint: str,
    **dedup_kwargs,
):
    """Streaming twin of functions/dedup.incremental_dedup_pairs: each
    micro-batch of newly-crawled documents is probed against the STATIC
    existing-corpus signature index, and the flagged near-dup pairs
    append as parquet under ``sink_path`` (an explicit path, not a
    managed table — no catalog/warehouse state to collide with).

    ``foreachBatch`` is the right tool here (not a stream-static join
    chain): the verify step needs a per-batch aggregation over the
    batch's own shingles, which is exactly what running the BATCH
    operator on each micro-batch expresses — one code path, identical
    semantics, incremental arrival.  State is the persisted index, not
    stream state: a restart re-probes nothing already committed
    (checkpointed source offsets) and duplicates nothing.
    """
    from pithos_spark.functions.dedup import incremental_dedup_pairs

    def _probe(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        pairs = incremental_dedup_pairs(
            batch_df, existing_docs, **dedup_kwargs
        )
        pairs.write.mode("append").parquet(sink_path)

    return (
        new_docs_stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_incremental_containment(
    new_docs_stream,
    existing_docs,
    sink_path: str,
    checkpoint: str,
    **containment_kwargs,
):
    """Streaming twin of functions/dedup.incremental_containment_pairs:
    each micro-batch of newly-crawled documents is probed against the
    STATIC corpus posting index for sub-document containment, flagged
    pairs appended as parquet under ``sink_path`` — the same
    foreachBatch contract as streaming_incremental_dedup (one code
    path with the batch operator, checkpointed offsets, restart-safe).
    """
    from pithos_spark.functions.dedup import incremental_containment_pairs

    def _probe(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        pairs = incremental_containment_pairs(
            batch_df, existing_docs, **containment_kwargs
        )
        pairs.write.mode("append").parquet(sink_path)

    return (
        new_docs_stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_quality_gate(
    new_docs_stream,
    weights,
    sink_path: str,
    checkpoint: str,
    **classifier_kwargs,
):
    """Streaming twin of functions/text.quality_classifier_score with a
    FROZEN trained weight table: each micro-batch of newly-crawled
    documents is scored through the broadcast weight join (weights are
    static — trained once on the held-out slice, e.g. by
    train_classifier_weights — so every batch reuses the same tiny
    broadcast), and the per-doc keep/drop verdicts append as parquet
    under ``sink_path``.

    The crawl-ingest quality gate shape at 100 TB/day: classification
    is batch-local (no cross-batch state beyond checkpointed offsets),
    so restarts re-score nothing already committed and the stream's
    union over time equals the batch operator over the union of
    batches (tested).  ``foreachBatch`` for the same reason as the
    incremental-dedup twins: one code path with the batch operator.
    """
    from pithos_spark.functions.text import quality_classifier_score

    def _score(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        scored = quality_classifier_score(
            batch_df, weights=weights, **classifier_kwargs
        )
        scored.write.mode("append").parquet(sink_path)

    return (
        new_docs_stream.writeStream.foreachBatch(_score)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_pq_serve(
    query_id_stream,
    embeddings,
    layout_path: str,
    sink_path: str,
    checkpoint: str,
    k: int = 10,
    rerank: int = 4,
):
    """Online ANN serving twin (r12): micro-batches of incoming query
    ids are answered against the FROZEN persisted PQ index — each batch
    is one functions/similarity.pq_batch_topk_from_layout pass (one
    code-table read for the whole batch, |batch| x M x K broadcast
    LUT), and the per-query top-k rows append under ``sink_path``.

    The query-serving shape at scale: the index is built once
    (save_pq_index), queries arrive continuously, and throughput is
    batches-per-trigger x one-pass batch cost instead of a corpus scan
    per query.  Serving is batch-local (every query answered
    independently against the same frozen tables), so the stream's
    union over time equals the batch operator over the union of query
    ids (tested across trigger splits).  The per-batch driver collect
    gathers only the batch's distinct query ids — bounded by the
    micro-batch size by construction."""
    from pithos_spark.functions.similarity import pq_batch_topk_from_layout

    def _serve(batch_df, batch_id):
        ids = [
            r["query_id"]
            for r in batch_df.select("query_id").distinct().collect()
        ]
        if not ids:
            return
        pq_batch_topk_from_layout(
            embeddings, layout_path, sorted(ids), k, rerank
        ).write.mode("append").parquet(sink_path)

    return (
        query_id_stream.writeStream.foreachBatch(_serve)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_trigram_gate(
    new_docs_stream,
    layout_path: str,
    sink_path: str,
    checkpoint: str,
    **score_kwargs,
):
    """Streaming twin of functions/text.trigram_heldout_from_layout
    over the FROZEN materialized gram layout (r12): each micro-batch of
    newly-crawled documents is scored as a PROBE —
    trigram_probe_from_layout reads only the gram-bucket partitions the
    batch's own grams hash into (static partition pruning per batch) —
    and the per-doc perplexity verdicts append under ``sink_path``.

    The in-domain crawl filter at 100 TB/day: the LM count tables are
    built once (write_trigram_lm_layout at LM-training time) and never
    rescanned; scoring is batch-local (each document's windows score
    independently against the fixed counts), so the stream's union over
    time equals the batch layout read over the union of batches, and a
    restart re-scores nothing already committed.  ``foreachBatch`` for
    the same one-code-path reason as the quality gate above."""
    from pithos_spark.functions.text import trigram_probe_from_layout

    def _score(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        trigram_probe_from_layout(
            batch_df, layout_path, **score_kwargs
        ).write.mode("append").parquet(sink_path)

    return (
        new_docs_stream.writeStream.foreachBatch(_score)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_pq_encode(
    new_embeddings_stream,
    codebooks: dict,
    sink_path: str,
    checkpoint: str,
    **encode_kwargs,
):
    """Streaming twin of functions/similarity.pq_encode with FROZEN
    codebooks: each micro-batch of newly-ingested vectors is reduced to
    its PQ codes (trained once — e.g. by build_pq_codebooks on the
    initial corpus — and closed over, so every batch reuses the same
    tiny codebook arrays in the Arrow argmin) and the (vec_id, m, code)
    rows append under ``sink_path``.

    The vector-ingest shape at scale: the 32x-compressed code table
    grows incrementally as embeddings arrive, and the ADC serving
    queries read only it.  Encoding is batch-local, so the stream's
    union over time equals the batch encoder over the union of batches
    (tested); codebook DRIFT is the operator's documented limitation —
    re-train periodically and re-encode, exactly like any frozen
    quantizer in production."""
    from pithos_spark.functions.similarity import pq_encode

    def _encode(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        codes = pq_encode(batch_df, codebooks, **encode_kwargs)
        codes.write.mode("append").parquet(sink_path)

    return (
        new_embeddings_stream.writeStream.foreachBatch(_encode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_decode_coverage(
    new_assets_stream,
    sink_path: str,
    checkpoint: str,
):
    """Streaming twin of sources/multimodal.decode_coverage (r13): each
    micro-batch of newly-ingested assets emits its PARTIAL per-(media_
    type, format) decode counts — the same Arrow-batch counting stage
    the batch report uses — appended under ``sink_path``; read the
    running report back with :func:`decode_coverage_from_partials`.

    The counts are ADDITIVE (the mergeable-summary contract heavy
    hitters uses), so the merged partials over any trigger split equal
    the batch report over the union of batches (tested).  Replay
    safety: foreachBatch is at-least-once — a crash between the parquet
    append and the checkpoint commit re-runs the batch, and duplicated
    COUNT rows would silently inflate the totals (worse than the
    pair-emitting sinks, whose duplicates are at least visible).  Each
    batch therefore writes exactly one row per (media_type, format)
    tagged with its ``batch_id``; re-execution is deterministic, so the
    reader drops replays with a (batch_id, media_type, format) dedup
    (tested).  At ingest scale this is the live "what share of today's
    crawl can the perceptual tiers actually decode" dashboard feed —
    rows written per batch are O(formats), not O(assets)."""
    import pyspark.sql.functions as F

    from pithos_spark.sources.multimodal import coverage_partials

    def _count(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        (
            coverage_partials(batch_df)
            .groupBy("media_type", "format")
            .agg(
                F.sum("n_assets").alias("n_assets"),
                F.sum("n_header_decoded").alias("n_header_decoded"),
                F.sum("n_pixel_decoded").alias("n_pixel_decoded"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink_path)
        )

    return (
        new_assets_stream.writeStream.foreachBatch(_count)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def decode_coverage_from_partials(spark, sink_path: str):
    """Merge the batch-tagged partial counts streaming_decode_coverage
    appended into the same report shape (and values) as the batch
    operator: drop replayed micro-batch rows (at-least-once append —
    see streaming_decode_coverage), then reuse the batch operator's own
    merge+rates tail so the two reports cannot drift."""
    from pithos_spark.sources.multimodal import merge_coverage_partials

    return merge_coverage_partials(
        spark.read.parquet(sink_path)
        .dropDuplicates(["batch_id", "media_type", "format"])
        .drop("batch_id")
    )


def streaming_ivfpq_residual_serve(
    query_id_stream,
    embeddings,
    layout_path: str,
    sink_path: str,
    checkpoint: str,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
):
    """Online ANN serving over the CANONICAL index (r13): micro-batches
    of incoming query ids are answered against the frozen persisted
    residual-IVFADC layout — each batch is one
    functions/similarity.ivfpq_residual_batch_topk_from_layout pass
    (per-query probe lists, a probe-pruned read of the union of probed
    cluster partitions, |batch| x M x K broadcast residual LUT) and the
    per-query top-k rows append under ``sink_path``.

    Same contract as streaming_pq_serve: serving is batch-local (every
    query answered independently against the same frozen tables), so
    the stream's union over time equals the batch operator over the
    union of query ids (tested across trigger splits); the per-batch
    driver collect gathers only the batch's distinct query ids."""
    from pithos_spark.functions.similarity import (
        ivfpq_residual_batch_topk_from_layout,
    )

    def _serve(batch_df, batch_id):
        ids = [
            r["query_id"]
            for r in batch_df.select("query_id").distinct().collect()
        ]
        if not ids:
            return
        ivfpq_residual_batch_topk_from_layout(
            embeddings, layout_path, sorted(ids), k, n_probe, rerank
        ).write.mode("append").parquet(sink_path)

    return (
        query_id_stream.writeStream.foreachBatch(_serve)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
