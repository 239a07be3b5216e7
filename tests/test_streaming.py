"""Real Structured Streaming runs: the batch operators' streaming twins
must converge to the same answer (availableNow over the events parquet,
memory sink)."""

import pytest

pytestmark = pytest.mark.slow  # full-gate: excluded from `pytest -m quick`

from tests.conftest import SF_SMOKE


def test_streaming_hourly_rollup_matches_batch(spark, tmp_path):
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming import events as ev

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    # stream source needs a clean parquet dir with the post-conversion
    # schema (the raw file's nanos timestamps can't be stream-read)
    src = str(tmp_path / "events_src")
    batch_events.write.parquet(src)

    stream = ev.streamify(spark, src, batch_events.schema, watermark="2 hours")
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_sum_e2"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start"),
            "event_type",
            "event_count",
            "value_sum_e2",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["event_count"], r["value_sum_e2"])
        for r in spark.sql("SELECT * FROM hourly").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["event_count"], r["value_sum_e2"])
        for r in ev.hourly_rollup(batch_events)
        .select("window_start", "event_type", "event_count", "value_sum_e2")
        .collect()
    }
    assert got == want


def test_streaming_dedup_dropduplicates(spark, tmp_path):
    import pyspark.sql.functions as F

    from pithos_spark import tables as T

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    src = str(tmp_path / "events_dedup_src")
    batch_events.write.parquet(src)

    stream = (
        spark.readStream.schema(batch_events.schema)
        .parquet(src)
        .withWatermark("ts", "1 day")
        .dropDuplicates(["user_id", "event_type"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT user_id || '|' || event_type) AS d FROM dedup"
    ).collect()[0]
    # one row per (user_id, event_type), all distinct
    assert got["n"] == got["d"]
    expected_groups = (
        batch_events.select("user_id", "event_type").distinct().count()
    )
    assert got["n"] == expected_groups


def test_stateful_user_totals_matches_batch(spark, tmp_path):
    """applyInPandasWithState lifetime totals must converge to the batch
    groupBy answer once the stream drains (update mode: take each
    user's LAST emitted row)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming.stateful import user_lifetime_totals

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    src = str(tmp_path / "events_stateful_src")
    # several files -> several micro-batches with maxFilesPerTrigger
    batch_events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        user_lifetime_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # update mode appends one row per (user, micro-batch); the final
    # state is the max running total per user
    got = {
        r["user_id"]: (r["events_total"], r["value_total_e2"])
        for r in spark.sql(
            """SELECT user_id, max(events_total) AS events_total,
                      max(value_total_e2) AS value_total_e2
               FROM user_totals GROUP BY user_id"""
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["v"])
        for r in batch_events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("v"),
        )
        .collect()
    }
    assert got == want


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """The stateful streaming sessionizer must converge to the batch
    lag+cumsum sessionization: same (user, start, end, count) sessions
    once the stream drains.  Files are written oldest-first so the file
    source's mtime ordering delivers watermark-ordered batches, with a
    session deliberately spanning the file boundary."""
    import time

    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming.events import sessionize
    from pithos_spark.streaming.sessions import sessionize_stream

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    cutoff_us = batch_events.select(
        F.unix_micros("ts").alias("us")
    ).approxQuantile("us", [0.5], 0.0)[0]
    cutoff = F.timestamp_micros(F.lit(int(cutoff_us)))
    src = str(tmp_path / "events_sessions_src")
    early = batch_events.filter(F.col("ts") <= cutoff)
    late = batch_events.filter(F.col("ts") > cutoff)
    early.coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes: oldest-first processing order
    late.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # sessions only grow: the final emission per (user, start) is the
    # one with the largest n_events
    got = {
        (r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
        for r in spark.sql(
            """SELECT user_id, session_start_us,
                      max_by(session_end_us, n_events) AS session_end_us,
                      max(n_events) AS n_events
               FROM sessions_stream GROUP BY user_id, session_start_us"""
        ).collect()
    }
    want = {
        (r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
        for r in sessionize(batch_events).collect()
    }
    assert got == want


def test_stateful_restart_from_checkpoint(spark, tmp_path):
    """State survives a full query stop/restart: drain file 1 with a
    checkpoint, stop, add file 2, restart the SAME query from the same
    checkpoint — the drained totals must equal the batch answer over
    both files (i.e. file 1's state was reloaded, not recomputed)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming.stateful import user_lifetime_totals

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    half1 = batch_events.filter(F.col("event_id") % 2 == 0)
    half2 = batch_events.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "events_ckpt_src")
    ckpt = str(tmp_path / "ckpt")
    half1.coalesce(1).write.parquet(src)

    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    def run_stream():
        stream = (
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            user_lifetime_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        q.stop()

    run_stream()                                   # drains half1
    half2.coalesce(1).write.mode("append").parquet(src)
    run_stream()                                   # resumes, drains half2

    got = {}
    for r in emitted:  # update mode: later emissions supersede earlier
        prev = got.get(r["user_id"], (0, 0))
        got[r["user_id"]] = max(prev, (r["events_total"], r["value_total_e2"]))
    want = {
        r["user_id"]: (r["n"], r["v"])
        for r in batch_events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("v"),
        )
        .collect()
    }
    assert got == want


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: an event
    arriving in a later batch but timestamped far before the advanced
    watermark is DROPPED (its window already finalized) — the core
    late-data contract bounded streaming state relies on."""
    import time

    import pyspark.sql.functions as F

    from datetime import datetime

    schema = "event_id long, ts timestamp, user_id long"
    src = str(tmp_path / "late_src")
    dt = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    on_time = spark.createDataFrame(
        [(1, dt(0, 10), 1),
         (2, dt(0, 20), 1),
         (3, dt(6, 0), 1)],  # advances the watermark far ahead
        schema,
    )
    late = spark.createDataFrame(
        [(4, dt(0, 15), 1)],  # > 1h behind the watermark
        schema,
    )
    ckpt = str(tmp_path / "late_ckpt")
    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    def run_stream():
        stream = (
            spark.readStream.schema(on_time.schema)
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_micros(F.col("w.start")).alias("ws"), "n")
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    # run 1 drains the on-time events; the checkpoint persists the
    # advanced watermark (05:00).  run 2 sees only the late file.
    on_time.coalesce(1).write.parquet(src)
    run_stream()
    time.sleep(0.2)
    late.coalesce(1).write.mode("append").parquet(src)
    run_stream()

    got = {}
    for r in emitted:
        got[r["ws"]] = got.get(r["ws"], 0) + r["n"]
    # the 00:00 window closed with exactly the two on-time events; the
    # late event_id=4 (00:15, behind the restored watermark) never lands
    midnight = 1704067200000000
    assert got.get(midnight) == 2, got


def test_streaming_curation_gates_match_batch(spark, tmp_path):
    """The curation gates (quality filters + mix sampling) are stateless
    column expressions, so they stream unchanged: an availableNow pass
    over the documents corpus emits exactly the batch answer."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions.curate import sample_mix

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    gated = sample_mix(
        stream.filter(F.length("text") >= 50), ordered=False
    ).drop("selector")  # compare as sets; global sort is not stream-legal
    q = (
        gated.writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["doc_id"], r["source"], r["rate_permille"])
        for r in spark.sql("SELECT * FROM curated_stream").collect()
    }
    want = {
        (r["doc_id"], r["source"], r["rate_permille"])
        for r in sample_mix(docs.filter(F.length("text") >= 50)).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_funnel_converges_to_batch(spark, tmp_path):
    """Stateful funnel over micro-batches (files shuffled into several
    triggers, so steps arrive interleaved and out of order) must end at
    the same per-user stage as the batch fold."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming.funnel import (
        STEPS,
        fold_stage,
        streaming_funnel_stages,
    )

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    src = str(tmp_path / "events_funnel_src")
    batch_events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_funnel_stages(stream)
        .writeStream.format("memory")
        .queryName("funnel_stages")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # stage only grows as history accumulates -> final answer = max
    got = {
        r["user_id"]: r["stage"]
        for r in spark.sql(
            "SELECT user_id, max(stage) AS stage FROM funnel_stages GROUP BY user_id"
        ).collect()
    }

    step_of = {s: i for i, s in enumerate(STEPS)}
    rows = (
        batch_events.filter(F.col("event_type").isin(*STEPS))
        .select("user_id", F.unix_micros("ts").alias("us"), "event_type")
        .collect()
    )
    hist: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        hist.setdefault(r["user_id"], []).append((r["us"], step_of[r["event_type"]]))
    want = {u: fold_stage(evs, len(STEPS)) for u, evs in hist.items()}
    # users with no funnel events never appear in the stream output
    want = {u: s for u, s in want.items()}
    assert got == want


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """Micro-batched crawl delta probed against the static index must
    flag exactly the pairs the batch operator flags, regardless of how
    the delta splits into triggers."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions.dedup import incremental_dedup_pairs
    from pithos_spark.streaming.funnel import streaming_incremental_dedup

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    existing = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    src = str(tmp_path / "crawl_delta")
    new.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "inc_dedup_sink")
    q = streaming_incremental_dedup(
        stream, existing, sink, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got = {
        (r["new_doc_id"], r["existing_doc_id"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["new_doc_id"], r["existing_doc_id"])
        for r in incremental_dedup_pairs(new, existing).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_api_traffic_matches_batch(spark, tmp_path):
    """The dispatch-resolved API-traffic rollup run as a real stream
    (availableNow, watermarked event-time windows) converges to the
    batch api_traffic_hourly answer — request derivation, operation
    resolution, and the broadcast opmap join all work incrementally."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.operators import dispatch as D
    from pithos_spark.streaming import events as ev

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    src = str(tmp_path / "events_src")
    batch_events.write.parquet(src)

    opmap = D.opmap_df(spark)
    stream = ev.streamify(spark, src, batch_events.schema, watermark="2 hours")
    resolved = D.resolve_operations(D.requests_from_events(stream), opmap)
    agg = (
        resolved.groupBy(
            F.window("ts", "1 hour").alias("w"), "operation", "handler"
        )
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start"),
            "operation",
            "handler",
            "n_requests",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("api_traffic")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["operation"], r["handler"]): r["n_requests"]
        for r in spark.sql("SELECT * FROM api_traffic").collect()
    }
    want = {
        (r["window_start"], r["operation"], r["handler"]): r["n_requests"]
        for r in D.api_traffic_hourly(batch_events, opmap).collect()
    }
    assert got and got == want


def test_streaming_value_percentiles_approx(spark, tmp_path):
    """The constant-memory percentile sketch runs as a streaming
    aggregate (complete mode): per-type approx p50/p90/p99 over the
    event stream land inside the exact ±0.02-rank brackets computed in
    batch — the shape a live latency/value dashboard runs."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming import events as ev

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    src = str(tmp_path / "events_src")
    batch_events.write.parquet(src)

    stream = ev.streamify(spark, src, batch_events.schema, watermark="2 hours")
    q_col = F.floor(F.col("value") * 100).cast("long").alias("v_e2")
    agg = (
        stream.select("event_type", q_col)
        .groupBy("event_type")
        .agg(
            F.expr(
                "approx_percentile(v_e2, array(0.5D, 0.9D, 0.99D), 10000)"
            ).alias("_pct")
        )
        .select(
            "event_type",
            F.col("_pct")[0].alias("p50"),
            F.col("_pct")[1].alias("p90"),
            F.col("_pct")[2].alias("p99"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("vp_approx")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: r for r in spark.sql("SELECT * FROM vp_approx").collect()
    }
    brackets = {
        r["event_type"]: r
        for r in batch_events.select(
            "event_type", F.floor(F.col("value") * 100).cast("long").alias("v")
        )
        .groupBy("event_type")
        .agg(
            *[
                F.expr(f"percentile(v, {q_}D)").alias(f"q{int(q_ * 100)}")
                for q_ in (0.48, 0.52, 0.88, 0.92, 0.97, 1.0)
            ]
        )
        .collect()
    }
    assert set(got) == set(brackets)
    for et, r in got.items():
        b = brackets[et]
        assert b["q48"] <= r["p50"] <= b["q52"], et
        assert b["q88"] <= r["p90"] <= b["q92"], et
        assert b["q97"] <= r["p99"] <= b["q100"], et


def test_streaming_heavy_hitters_exact_when_m_large(spark, tmp_path):
    """With m >= distinct users per type the space-saving sketch
    degenerates to exact counting: est_count matches the batch groupBy
    count for every (type, user) and err is 0 everywhere."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming import events as ev
    from pithos_spark.streaming.heavyhitters import heavy_hitters

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    src = str(tmp_path / "events_src")
    batch_events.write.parquet(src)

    stream = ev.streamify(spark, src, batch_events.schema, watermark="2 hours")
    q = (
        heavy_hitters(stream, m=100000)
        .writeStream.format("memory")
        .queryName("hh_exact")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # update mode re-emits a key's table each batch: keep the LAST emit
    got = {}
    for r in spark.sql("SELECT * FROM hh_exact").collect():
        got[(r["event_type"], r["user_id"])] = (r["est_count"], r["err"])
    want = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in batch_events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for k, (est, err) in got.items():
        assert est == want[k], k
        assert err == 0, k


def test_streaming_heavy_hitters_bounds_hold_when_m_small(spark, tmp_path):
    """With a small m on a skewed stream: state stays bounded at m rows
    per key, every estimate over-approximates within its recorded err,
    and the dominant user is tracked (count > N/m guarantee)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming import events as ev
    from pithos_spark.streaming.heavyhitters import heavy_hitters

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    # skew: map every 3rd event onto user 7
    skewed = batch_events.withColumn(
        "user_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(7)).otherwise(
            F.col("user_id")
        ),
    )
    src = str(tmp_path / "events_src")
    skewed.write.parquet(src)

    m = 8
    stream = ev.streamify(spark, src, skewed.schema, watermark="2 hours")
    q = (
        heavy_hitters(stream, m=m)
        .writeStream.format("memory")
        .queryName("hh_small")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM hh_small").collect()
    per_type = {}
    for r in rows:
        per_type.setdefault(r["event_type"], {})[r["user_id"]] = (
            r["est_count"],
            r["err"],
        )
    true_counts = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in skewed.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for et, table in per_type.items():
        assert len(table) <= m, et
        # the dominant user must be tracked in every type it appears in
        if (et, 7) in true_counts:
            assert 7 in table, et
        for user, (est, err) in table.items():
            true = true_counts.get((et, user), 0)
            assert est >= true, (et, user)
            assert est - err <= true, (et, user)


def test_heavy_hitters_batch_twin_bounds_and_determinism(spark):
    """The deterministic batch twin (heavy_hitters_batch) must honour the
    space-saving guarantees under real recycling pressure: at m=8 over a
    skewed table, state stays <= m per type, every estimate brackets the
    true count (true <= est <= true + err), every user with true count >
    N/m is tracked, and — because ingest order is fixed — two runs emit
    byte-identical tables."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming.heavyhitters import heavy_hitters_batch

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    skewed = batch_events.withColumn(
        "user_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(7)).otherwise(
            F.col("user_id")
        ),
    )

    m = 8
    rows = heavy_hitters_batch(skewed, m=m).collect()
    again = heavy_hitters_batch(skewed, m=m).collect()
    key = lambda r: (r["event_type"], r["user_id"])  # noqa: E731
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    per_type: dict = {}
    for r in rows:
        per_type.setdefault(r["event_type"], {})[r["user_id"]] = (
            r["est_count"],
            r["err"],
        )
    true_counts = {
        key(r): r["n"]
        for r in skewed.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals: dict = {}
    for (et, _u), n in true_counts.items():
        totals[et] = totals.get(et, 0) + n
    for et, table in per_type.items():
        assert 0 < len(table) <= m, et
        for user, (est, err) in table.items():
            true = true_counts.get((et, user), 0)
            assert est >= true, (et, user)
            assert est - err <= true, (et, user)
        # guarantee: every user above N/m is tracked
        for (et2, user), n in true_counts.items():
            if et2 == et and n * m > totals[et]:
                assert user in table, (et, user)


def test_heavy_hitters_distributed_merge_bounds(spark):
    """The mergeable-summaries path: per-partition partial sketches
    merged per key must preserve the space-saving guarantees whatever
    the partitioning — state <= m per type, true <= est <= true + err,
    err <= N/m, and every user with count > N/m tracked — under real
    merge pressure (8 input partitions, m=8, skewed data)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming.heavyhitters import heavy_hitters_distributed

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    skewed = batch_events.withColumn(
        "user_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(7)).otherwise(
            F.col("user_id")
        ),
    )
    m = 8
    counts = skewed.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    ).repartition(8)
    rows = heavy_hitters_distributed(counts, m=m).collect()

    true_counts = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in skewed.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals: dict = {}
    for (et, _u), n in true_counts.items():
        totals[et] = totals.get(et, 0) + n
    per_type: dict = {}
    for r in rows:
        per_type.setdefault(r["event_type"], {})[r["user_id"]] = (
            r["est_count"],
            r["err"],
        )
    assert set(per_type) == set(totals)
    for et, table in per_type.items():
        assert 0 < len(table) <= m, et
        for user, (est, err) in table.items():
            true = true_counts.get((et, user), 0)
            assert est >= true, (et, user)
            assert est - err <= true, (et, user)
            assert err * m <= totals[et], (et, user)
        for (et2, user), n in true_counts.items():
            if et2 == et and n * m > totals[et]:
                assert user in table, (et, user)


def test_heavy_hitters_distributed_exact_when_m_large(spark):
    """m >= distinct users: every partial tracks everything (sk_min 0),
    so the merge degenerates to exact summation — est matches groupBy
    counts, err 0 — regardless of partitioning."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming.heavyhitters import heavy_hitters_distributed

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    counts = batch_events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    ).repartition(8)
    got = {
        (r["event_type"], r["user_id"]): (r["est_count"], r["err"])
        for r in heavy_hitters_distributed(counts, m=100000).collect()
    }
    want = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in batch_events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for k, (est, err) in got.items():
        assert est == want[k] and err == 0, k


def test_heavy_hitters_batch_twin_exact_when_m_large(spark):
    """m >= distinct users -> the twin degenerates to exact counting
    (matches groupBy counts, err 0), mirroring the streaming test."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming.heavyhitters import heavy_hitters_batch

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    got = {
        (r["event_type"], r["user_id"]): (r["est_count"], r["err"])
        for r in heavy_hitters_batch(batch_events, m=100000).collect()
    }
    want = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in batch_events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for k, (est, err) in got.items():
        assert est == want[k] and err == 0, k


def test_watermark_lateness_in_order_and_conservation(spark):
    """jitter=1 degenerates the synthetic arrival shuffle to the ingest
    order, and the fixture's event_id is time-ordered, so every event is
    on time; the default jitter must produce a non-vacuous histogram
    that still conserves the event count."""
    from pithos_spark import tables as T
    from pithos_spark.streaming.events import watermark_lateness

    from tests.conftest import SF_ORACLE

    events = T.load_tables(spark, SF_ORACLE)["events"]
    n = events.count()

    in_order = watermark_lateness(events, jitter=1).collect()
    assert {r["lateness_bucket"] for r in in_order} == {"on_time"}
    assert sum(r["n_events"] for r in in_order) == n

    jittered = watermark_lateness(events).collect()
    buckets = {r["lateness_bucket"] for r in jittered}
    assert "on_time" in buckets and len(buckets) > 1, buckets
    assert sum(r["n_events"] for r in jittered) == n


def test_space_saving_invariants_property():
    """Property-based: for ANY weighted stream and any m, the _ingest
    core must satisfy the space-saving invariants against exact counts
    — the proof obligation behind every gate built on the sketch."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pithos_spark.streaming.heavyhitters import _ingest

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(1, 50)), max_size=80
        ),
        st.integers(1, 12),
    )
    def check(pairs, m):
        exact = Counter()
        for u, c in pairs:
            exact[u] += c
        table: dict = {}
        _ingest(table, pairs, m)
        n = sum(exact.values())
        assert len(table) <= m
        for u, (est, err) in ((u, tuple(v)) for u, v in table.items()):
            assert est >= exact[u]
            assert est - err <= exact[u]
            assert err * m <= n
        for u, c in exact.items():
            if c * m > n:
                assert u in table, (u, c, n, m)

    check()


def test_sketch_merge_invariants_property():
    """Property-based: merging arbitrary partial sketches of disjoint
    stream slices preserves the bounds and the guaranteed-hitter set —
    the mergeable-summaries obligation heavy_hitters_distributed and
    its oracle gate rely on."""
    from collections import Counter

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pithos_spark.streaming.heavyhitters import _ingest, merge_sketches

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.tuples(st.integers(0, 20), st.integers(1, 30)),
                max_size=40,
            ),
            min_size=1,
            max_size=5,
        ),
        st.integers(2, 10),
    )
    def check(slices, m):
        exact = Counter()
        rows = {
            "event_type": [], "user_id": [], "est_count": [], "err": [],
            "partial_id": [], "partial_min": [],
        }
        for pid, pairs in enumerate(slices):
            for u, c in pairs:
                exact[u] += c
            table: dict = {}
            # arrival order is arbitrary on purpose: the merge bounds
            # must hold for ANY ingest order
            _ingest(table, pairs, m)
            sk_min = (
                min(v[0] for v in table.values()) if len(table) >= m else 0
            )
            for u, (est, err) in sorted(table.items()):
                rows["event_type"].append("t")
                rows["user_id"].append(u)
                rows["est_count"].append(est)
                rows["err"].append(err)
                rows["partial_id"].append(pid)
                rows["partial_min"].append(sk_min)
        if not rows["user_id"]:
            return
        merged = merge_sketches(pd.DataFrame(rows), m)
        n = sum(exact.values())
        got = {
            int(r.user_id): (int(r.est_count), int(r.err))
            for r in merged.itertuples()
        }
        assert len(got) <= m
        for u, (est, err) in got.items():
            assert est >= exact[u], (u, est, exact[u])
            assert est - err <= exact[u], (u, est, err, exact[u])
        for u, c in exact.items():
            if c * m > n:
                assert u in got, (u, c, n, m)

    check()


def test_streaming_heavy_hitters_converges_to_batch_twin(spark, tmp_path):
    """VERDICT r8 item 6: the STREAMING operator's final state equals
    sketch_from_counts of the same data, exactly, even with m small
    enough to force recycling.  A single micro-batch ingests per-user
    totals in sorted-user order — byte-for-byte the batch twin's fold
    (heavyhitters.py:17-20 determinism note) — so (est_count, err)
    match value-for-value, not just within bounds."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming import events as ev
    from pithos_spark.streaming.heavyhitters import heavy_hitters, sketch_from_counts

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    # skew a third of the traffic onto user 7 so recycling really fires
    skewed = batch_events.withColumn(
        "user_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(7)).otherwise(
            F.col("user_id")
        ),
    )
    src = str(tmp_path / "events_one_file")
    # ONE file -> availableNow delivers ONE micro-batch: the stream's
    # ingest order provably matches the twin's
    skewed.coalesce(1).write.parquet(src)

    m = 8
    stream = ev.streamify(spark, src, skewed.schema, watermark="2 hours")
    q = (
        heavy_hitters(stream, m=m)
        .writeStream.format("memory")
        .queryName("hh_twin")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["event_type"], r["user_id"]): (r["est_count"], r["err"])
        for r in spark.sql("SELECT * FROM hh_twin").collect()
    }
    counts = skewed.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    want = {
        (r["event_type"], r["user_id"]): (r["est_count"], r["err"])
        for r in sketch_from_counts(counts, m=m).collect()
    }
    assert got == want
    # and the sketch really is lossy here (recycling fired), so the
    # equality above is a statement about the recycling path too
    assert any(err > 0 for _, err in got.values())


def test_streaming_heavy_hitters_replay_deterministic(spark, tmp_path):
    """Replaying the SAME multi-micro-batch stream reproduces the same
    sketch exactly (sorted ingest + (count, user) victim choice): the
    property that makes streaming restarts reconcilable."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.streaming import events as ev
    from pithos_spark.streaming.heavyhitters import heavy_hitters

    batch_events = T.load_tables(spark, SF_SMOKE)["events"]
    src = str(tmp_path / "events_parts")
    # 3 files + maxFilesPerTrigger=1 -> 3 ordered micro-batches (file
    # source queues by discovery; a fixed file set replays identically)
    batch_events.orderBy("event_id").repartitionByRange(
        3, "event_id"
    ).write.parquet(src)

    def run(name: str):
        stream = (
            spark.readStream.schema(batch_events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "2 hours")
        )
        q = (
            heavy_hitters(stream, m=8)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # update mode re-emits per batch; the LAST emit per key is the
        # final state (memory sink appends, so dedupe keeping last)
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        final = {}
        for r in rows:
            final[(r["event_type"], r["user_id"])] = (
                r["est_count"], r["err"],
            )
        return final

    assert run("hh_replay_a") == run("hh_replay_b")


def test_streaming_incremental_containment_matches_batch(spark, tmp_path):
    """Micro-batched crawl delta probed against the static corpus
    posting index must flag exactly the containment pairs the batch
    operator flags, regardless of trigger splits."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions.dedup import incremental_containment_pairs
    from pithos_spark.streaming.funnel import (
        streaming_incremental_containment,
    )

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    existing = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    src = str(tmp_path / "crawl_delta_c")
    new.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "inc_containment_sink")
    q = streaming_incremental_containment(
        stream, existing, sink, str(tmp_path / "ckpt_c"), threshold_pct=50
    )
    q.awaitTermination(180)

    got = {
        (r["new_doc_id"], r["existing_doc_id"], r["containment_pct"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["new_doc_id"], r["existing_doc_id"], r["containment_pct"])
        for r in incremental_containment_pairs(
            new, existing, threshold_pct=50
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    """Micro-batched crawl delta scored through the FROZEN trained
    weight table must produce exactly the batch operator's verdicts
    over the union of batches, regardless of trigger splits — the
    crawl-ingest quality gate (r11)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions.text import (
        quality_classifier_score,
        train_classifier_weights,
    )
    from pithos_spark.streaming.funnel import streaming_quality_gate

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    weights = train_classifier_weights(
        docs.filter(F.col("doc_id") % 4 == 0).withColumn(
            "label", (F.col("n_chars") >= 300).cast("int")
        )
    ).persist()
    weights.count()  # freeze the trained table before streaming starts
    new = docs.filter(F.col("doc_id") % 4 != 0)
    src = str(tmp_path / "crawl_delta_q")
    new.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "quality_gate_sink")
    q = streaming_quality_gate(
        stream, weights, sink, str(tmp_path / "ckpt_q")
    )
    q.awaitTermination(180)

    got = {
        (r["doc_id"], r["n_tokens"], r["logit_milli"], r["keep"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["doc_id"], r["n_tokens"], r["logit_milli"], r["keep"])
        for r in quality_classifier_score(new, weights=weights).collect()
    }
    weights.unpersist()
    assert got == want and len(want) > 0
    # the gate is non-vacuous: trained logits vary across docs (at this
    # smoke SF all may clear threshold 0, so assert on logits, not keep)
    assert len({logit for _, _, logit, _ in want}) > 1


def test_streaming_pq_encode_matches_batch(spark, tmp_path):
    """Micro-batched vector ingest encoded with FROZEN PQ codebooks
    must produce exactly the batch encoder's code rows over the union
    of batches, regardless of trigger splits — the incremental
    code-table growth shape (r11)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions.similarity import (
        build_pq_codebooks,
        pq_encode,
    )
    from pithos_spark.streaming.funnel import streaming_pq_encode

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    # codebooks trained on the initial half, frozen
    initial = emb.filter(F.col("vec_id") % 2 == 0)
    codebooks = build_pq_codebooks(initial, m_sub=8, k_codes=8, n_iter=2)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    src = str(tmp_path / "vec_ingest")
    new.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "pq_codes_sink")
    q = streaming_pq_encode(
        stream, codebooks, sink, str(tmp_path / "ckpt_pq"), m_sub=8
    )
    q.awaitTermination(180)

    got = {
        (r["vec_id"], r["m"], r["code"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["vec_id"], r["m"], r["code"])
        for r in pq_encode(new, codebooks, m_sub=8).collect()
    }
    assert got == want and len(want) > 0
    # every new vector carries exactly m_sub code rows
    from collections import Counter

    per_vec = Counter(v for v, _, _ in got)
    assert all(n == 8 for n in per_vec.values())


def test_streaming_trigram_gate_matches_batch(spark, tmp_path):
    """Micro-batched crawl delta scored as bucket-pruned probes against
    the FROZEN trigram gram layout must produce exactly the batch
    layout read's verdicts over the union of batches, regardless of
    trigger splits — the in-domain crawl filter (r12)."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions.text import (
        trigram_heldout_from_layout,
        write_trigram_lm_layout,
    )
    from pithos_spark.streaming.funnel import streaming_trigram_gate

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    layout = str(tmp_path / "trigram_lm_layout")
    write_trigram_lm_layout(docs.filter(F.col("doc_id") % 4 == 0), layout)
    new = docs.filter(F.col("doc_id") % 4 != 0)
    src = str(tmp_path / "crawl_delta_t")
    new.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "trigram_gate_sink")
    q = streaming_trigram_gate(stream, layout, sink, str(tmp_path / "ckpt_t"))
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    want = {
        tuple(r) for r in trigram_heldout_from_layout(new, layout).collect()
    }
    assert got == want and len(want) > 0
    # non-vacuous: scores vary across documents
    assert len({r[2] for r in want}) > 1


def test_streaming_pq_serve_matches_batch(spark, tmp_path):
    """Micro-batched query ids answered against the frozen PQ index
    must produce exactly the one-pass batch server's rows over the
    union of batches, regardless of trigger splits — the online ANN
    serving shape (r12)."""
    from pithos_spark import tables as T
    from pithos_spark.functions.similarity import (
        pq_batch_topk_from_layout,
        save_pq_index,
    )
    from pithos_spark.streaming.funnel import streaming_pq_serve

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    layout = str(tmp_path / "pq_serve_index")
    save_pq_index(emb, layout)
    ids = [0, 7, 21, 42, 63, 99]
    src = str(tmp_path / "query_stream")
    spark.createDataFrame(
        [(i,) for i in ids], "query_id long"
    ).repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("query_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "pq_serve_sink")
    q = streaming_pq_serve(
        stream, emb, layout, sink, str(tmp_path / "ckpt_pq_serve")
    )
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    want = {
        tuple(r)
        for r in pq_batch_topk_from_layout(emb, layout, ids, 10).collect()
    }
    assert got == want and len(want) == len(ids) * 10


def test_streaming_decode_coverage_matches_batch(spark, tmp_path):
    """Partial decode-coverage counts appended per micro-batch must
    merge to exactly the batch report over the union of batches,
    regardless of trigger splits — additive telemetry, the mergeable
    contract (r13)."""
    from pithos_spark import tables as T
    from pithos_spark.sources.multimodal import (
        assets_from_documents,
        decode_coverage,
    )
    from pithos_spark.streaming.funnel import (
        decode_coverage_from_partials,
        streaming_decode_coverage,
    )

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    assets = assets_from_documents(docs)
    src = str(tmp_path / "asset_ingest")
    assets.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(assets.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "coverage_sink")
    q = streaming_decode_coverage(stream, sink, str(tmp_path / "ckpt_cov"))
    q.awaitTermination(180)

    merged = [
        tuple(r) for r in decode_coverage_from_partials(spark, sink).collect()
    ]
    batch = [tuple(r) for r in decode_coverage(assets).collect()]
    assert merged == batch and len(batch) > 0
    # at least one partial row per trigger: the sink grew per batch,
    # but stayed O(formats) per batch, never O(assets)
    partials = spark.read.parquet(sink)
    assert partials.count() <= 4 * 3 * 6  # batches x modalities x formats
    # replay safety: foreachBatch is at-least-once — re-appending an
    # already-committed batch's rows (identical batch_id, deterministic
    # counts) must not change the merged report
    one_batch = partials.filter(
        partials["batch_id"] == partials.agg({"batch_id": "min"}).collect()[0][0]
    )
    one_batch.write.mode("append").parquet(sink)
    replayed = [
        tuple(r) for r in decode_coverage_from_partials(spark, sink).collect()
    ]
    assert replayed == batch


def test_streaming_ivfpq_residual_serve_matches_batch(spark, tmp_path):
    """Micro-batched query ids answered against the frozen residual
    IVFADC index must produce exactly the one-pass batch server's rows
    over the union of batches, regardless of trigger splits — online
    serving over the CANONICAL index (r13)."""
    from pithos_spark import tables as T
    from pithos_spark.functions.similarity import (
        ivfpq_residual_batch_topk_from_layout,
        save_ivfpq_residual_index,
    )
    from pithos_spark.streaming.funnel import streaming_ivfpq_residual_serve

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    layout = str(tmp_path / "residual_serve_index")
    save_ivfpq_residual_index(emb, layout)
    ids = [0, 7, 21, 42, 63, 99]
    src = str(tmp_path / "residual_query_stream")
    spark.createDataFrame(
        [(i,) for i in ids], "query_id long"
    ).repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("query_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "residual_serve_sink")
    q = streaming_ivfpq_residual_serve(
        stream, emb, layout, sink, str(tmp_path / "ckpt_res_serve")
    )
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    want = {
        tuple(r)
        for r in ivfpq_residual_batch_topk_from_layout(
            emb, layout, ids, 10
        ).collect()
    }
    assert got == want and len(want) == len(ids) * 10


def test_streaming_postings_ingest_matches_batch(spark, tmp_path):
    """Crawl-as-a-stream postings maintenance (r14): build the base
    layout on half the corpus, stream the other half in several
    micro-batches, and the staged serving read must equal the one-pass
    batch layout over the FULL corpus — then compaction folds the
    segments into the base and the plain batch serving path returns
    the same rows."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval
    from pithos_spark.streaming.ingest import (
        bm25_topk_with_staged,
        compact_staged_postings,
        streaming_postings_ingest,
    )

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)

    layout = str(tmp_path / "postings_layout")
    retrieval.write_postings_layout(base, layout)
    full_layout = str(tmp_path / "postings_full")
    retrieval.write_postings_layout(docs, full_layout)
    want = [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, full_layout).collect()
    ]

    src = str(tmp_path / "delta_src")
    delta.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_postings_ingest(
        stream, layout, str(tmp_path / "ckpt_postings")
    )
    q.awaitTermination(120)

    got = [tuple(r) for r in bm25_topk_with_staged(spark, layout).collect()]
    assert got == want and len(got) == 20
    # stats: base counters + deduped staged counters == full build's
    fs = spark.read.parquet(f"{full_layout}/stats").collect()[0]
    staged_stats = spark.read.parquet(f"{layout}/staged_stats")
    bs = spark.read.parquet(f"{layout}/stats").collect()[0]
    agg = staged_stats.dropDuplicates(["seg"]).agg(
        F.sum("n_docs"), F.sum("total_len")
    ).collect()[0]
    assert (bs["n_docs"] + agg[0], bs["total_len"] + agg[1]) == (
        fs["n_docs"], fs["total_len"],
    )

    # compaction: segments fold into the base, plain serving read agrees
    folded = compact_staged_postings(spark, layout)
    assert folded > 0
    after = [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, layout).collect()
    ]
    assert after == want
    # staging area is gone; a second compaction is a no-op
    assert compact_staged_postings(spark, layout) == 0


def test_streaming_postings_ingest_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: a GENUINE Structured Streaming replay —
    same checkpoint, batch 0's commit marker deleted so the restarted
    query re-executes the batch with the SAME batch id — must leave
    the staged segment directory byte-identical (the install rename
    finds it already present and skips), and the stats reader drops
    the duplicated seg-tagged row.  (A re-run under a FRESH checkpoint
    is deliberately NOT deduplicated: batch ids restart at 0 per
    checkpoint, so a fresh checkpoint is a new stream whose segments
    must never collide with an old stream's fold mask — that is why
    segment keys carry the checkpoint token.)"""
    import os

    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval
    from pithos_spark.streaming.ingest import (
        bm25_topk_with_staged,
        streaming_postings_ingest,
    )

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    layout = str(tmp_path / "postings_layout_replay")
    retrieval.write_postings_layout(base, layout)

    src = str(tmp_path / "delta_src_replay")
    delta.write.parquet(src)
    ckpt = str(tmp_path / "ckpt_replay")
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = streaming_postings_ingest(stream, layout, ckpt)
    q.awaitTermination(120)
    q.stop()  # release the checkpoint before the restarted query takes it
    # simulate the foreachBatch crash-after-write: the sink side effects
    # happened but the batch was never committed, so a restart replays
    # batch 0 under the same id (the at-least-once contract)
    os.remove(f"{ckpt}/commits/0")
    os.remove(f"{ckpt}/commits/.0.crc")  # its Hadoop checksum twin
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = streaming_postings_ingest(stream, layout, ckpt)
    q.awaitTermination(120)

    # one segment only, rows not duplicated (install found it present)
    staged = spark.read.parquet(f"{layout}/staged")
    assert staged.select("seg").distinct().count() == 1
    assert staged.count() == staged.dropDuplicates().count()
    # the duplicated stats row is dropped by the seg dedup
    raw = spark.read.parquet(f"{layout}/staged_stats")
    assert raw.count() == 2  # two appends...
    assert raw.dropDuplicates(["seg"]).count() == 1  # ...one segment
    full_layout = str(tmp_path / "postings_full_replay")
    retrieval.write_postings_layout(docs, full_layout)
    want = [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, full_layout).collect()
    ]
    got = [tuple(r) for r in bm25_topk_with_staged(spark, layout).collect()]
    assert got == want


def test_streaming_trigram_ingest_matches_batch(spark, tmp_path):
    """Gram-layout twin of the postings stream test: base layout on
    90% of the LM slice, the rest streamed in micro-batches; the
    staged serving read must equal the one-pass layout over the full
    LM, and compaction folds the segments so the plain layout read
    agrees — probe pruning still works on the compacted layout."""
    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import text
    from pithos_spark.streaming.ingest import (
        compact_staged_trigram,
        streaming_trigram_ingest,
        trigram_heldout_with_staged,
    )

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    layout = str(tmp_path / "trigram_layout")
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), layout)
    full_layout = str(tmp_path / "trigram_full")
    text.write_trigram_lm_layout(lm, full_layout)
    want = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, full_layout).collect()
    ]

    src = str(tmp_path / "lm_delta_src")
    lm.filter("doc_id % 40 = 0").repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_trigram_ingest(stream, layout, str(tmp_path / "ckpt_tri"))
    q.awaitTermination(120)

    got = [
        tuple(r)
        for r in trigram_heldout_with_staged(score, layout).collect()
    ]
    assert got == want and len(got) > 0

    # the occupancy telemetry sees the staged partial rows (the
    # compaction-policy readout for streams); the alias is the reader
    from pithos_spark.streaming.ingest import (
        trigram_segment_stats_with_staged,
    )

    pre = {
        r["gram_table"]: r["avg_segments_x1000"]
        for r in trigram_segment_stats_with_staged(spark, layout).collect()
    }
    assert trigram_segment_stats_with_staged is text.trigram_segment_stats
    assert any(v > 1000 for v in pre.values())

    folded = compact_staged_trigram(spark, layout)
    assert folded > 0
    after = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, layout).collect()
    ]
    assert after == want
    # frozen buckets: compacted stats equal the one-pass build's, and
    # the fold's full merge restored the one-segment fast path
    from pithos_spark.functions.layoutcommit import read_current

    gs = spark.read.parquet(f"{read_current(layout)}/stats").collect()[0]
    ws = spark.read.parquet(f"{full_layout}/stats").collect()[0]
    assert (gs["n_total"], gs["n_buckets"]) == (ws["n_total"], ws["n_buckets"])
    assert gs["n_segments"] == 1
    # probe pruning on the compacted (appended) layout still agrees
    probe = score.filter("doc_id % 16 = 1")
    gp = [
        tuple(r) for r in text.trigram_probe_from_layout(probe, layout).collect()
    ]
    wp = [
        tuple(r)
        for r in text.trigram_probe_from_layout(probe, full_layout).collect()
    ]
    assert gp == wp and len(gp) > 0
    assert compact_staged_trigram(spark, layout) == 0
    # post-fold both telemetry forms agree: one row per gram again
    post = {
        r["gram_table"]: r["avg_segments_x1000"]
        for r in trigram_segment_stats_with_staged(spark, layout).collect()
    }
    assert all(v == 1000 for v in post.values())


# --- compaction crash-injection (VERDICT r14 task 1) -----------------------
#
# The three crash windows of the generation-pointer fold, in commit
# order; each names the module function whose invocation marks the
# window's END, so monkeypatching it to raise kills the fold exactly
# there:
#   before_rename  — merged generation fully written under _fold_tmp,
#                    not yet installed (next_gen_rel is called just
#                    before the install rename);
#   before_commit  — generation dir installed, CURRENT still on the
#                    old generation;
#   before_cleanup — CURRENT swapped, staged segments still on disk
#                    (the exact window that double-counted in r14).
# the five driver-side steps of a fold, in order: crash at each one
# (r16 added the two GC steps — staged_stats rewrite and superseded-
# generation reclaim — to the matrix when they joined the fold)
_CRASH_POINTS = [
    "next_gen_rel",
    "commit_current",
    "_gc_staged",
    "_gc_staged_stats",
    "gc_generations",
]


def _boom(*_a, **_kw):
    raise RuntimeError("injected crash")


def test_compact_staged_postings_crash_recovery(spark, tmp_path):
    """Kill compaction in each crash window in turn (with fresh staged
    segments ingested between rounds): the torn state must still serve
    bit-identically to the one-pass oracle over the documents ingested
    so far — no double count, no loss — and re-running compaction must
    recover completely (fold applied or cleaned up, both serving paths
    agree, further compaction a no-op)."""
    import pyspark.sql.functions as F
    import pytest as _pt

    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval
    import pithos_spark.streaming.ingest as ing

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    layout = str(tmp_path / "postings_crash")
    retrieval.write_postings_layout(docs.filter("doc_id % 4 = 0"), layout)

    deltas = [
        "doc_id % 8 = 1",
        "doc_id % 8 = 5",
        "doc_id % 8 = 2",
        "doc_id % 8 = 6",
        "doc_id % 4 = 3",
    ]
    sofar = [
        "doc_id % 4 = 0 or doc_id % 8 = 1",
        "doc_id % 4 <= 1",
        "doc_id % 4 <= 1 or doc_id % 8 = 2",
        "doc_id % 4 <= 2",
        "doc_id >= 0",
    ]
    for i, (crash_fn, dpred, cpred) in enumerate(
        zip(_CRASH_POINTS, deltas, sofar)
    ):
        src = str(tmp_path / f"pc_src_{i}")
        docs.filter(dpred).write.parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = ing.streaming_postings_ingest(
            stream, layout, str(tmp_path / f"pc_ckpt_{i}")
        )
        q.awaitTermination(120)
        q.stop()

        full = str(tmp_path / f"pc_full_{i}")
        retrieval.write_postings_layout(docs.filter(cpred), full)
        want = [
            tuple(r)
            for r in retrieval.bm25_topk_from_postings(spark, full).collect()
        ]

        mp = _pt.MonkeyPatch()
        mp.setattr(ing, crash_fn, _boom)
        with _pt.raises(RuntimeError, match="injected crash"):
            ing.compact_staged_postings(spark, layout)
        mp.undo()

        # the torn state serves exactly — the r14 double-count window
        got = [
            tuple(r)
            for r in ing.bm25_topk_with_staged(spark, layout).collect()
        ]
        assert got == want, f"torn serve after crash at {crash_fn}"

        # recovery: a plain re-run finishes (or redoes) the fold
        ing.compact_staged_postings(spark, layout)
        after = [
            tuple(r)
            for r in retrieval.bm25_topk_from_postings(
                spark, layout
            ).collect()
        ]
        assert after == want, f"recovered base serve after {crash_fn}"
        assert [
            tuple(r)
            for r in ing.bm25_topk_with_staged(spark, layout).collect()
        ] == want
        assert ing.compact_staged_postings(spark, layout) == 0


def test_compact_staged_trigram_crash_recovery(spark, tmp_path):
    """Gram-layout twin of the postings crash matrix: every crash
    window serves exactly and recovers to a fully-merged generation
    (n_segments == 1, merge fast path re-engaged)."""
    import pyspark.sql.functions as F
    import pytest as _pt

    from pithos_spark import tables as T
    from pithos_spark.functions import text
    from pithos_spark.functions.layoutcommit import read_current
    import pithos_spark.streaming.ingest as ing

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    layout = str(tmp_path / "trigram_crash")
    base_pred = "doc_id % 40 NOT IN (0, 4, 12, 20, 28)"
    text.write_trigram_lm_layout(lm.filter(base_pred), layout)

    deltas = [
        "doc_id % 40 = 0",
        "doc_id % 40 = 4",
        "doc_id % 40 = 12",
        "doc_id % 40 = 20",
        "doc_id % 40 = 28",
    ]
    sofar = [
        "doc_id % 40 NOT IN (4, 12, 20, 28)",
        "doc_id % 40 NOT IN (12, 20, 28)",
        "doc_id % 40 NOT IN (20, 28)",
        "doc_id % 40 <> 28",
        "doc_id >= 0",
    ]
    for i, (crash_fn, dpred, cpred) in enumerate(
        zip(_CRASH_POINTS, deltas, sofar)
    ):
        src = str(tmp_path / f"tc_src_{i}")
        lm.filter(dpred).write.parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = ing.streaming_trigram_ingest(
            stream, layout, str(tmp_path / f"tc_ckpt_{i}")
        )
        q.awaitTermination(120)
        q.stop()

        full = str(tmp_path / f"tc_full_{i}")
        text.write_trigram_lm_layout(lm.filter(cpred), full)
        want = [
            tuple(r)
            for r in text.trigram_heldout_from_layout(score, full).collect()
        ]

        mp = _pt.MonkeyPatch()
        mp.setattr(ing, crash_fn, _boom)
        with _pt.raises(RuntimeError, match="injected crash"):
            ing.compact_staged_trigram(spark, layout)
        mp.undo()

        got = [
            tuple(r)
            for r in ing.trigram_heldout_with_staged(score, layout).collect()
        ]
        assert got == want, f"torn serve after crash at {crash_fn}"

        ing.compact_staged_trigram(spark, layout)
        after = [
            tuple(r)
            for r in text.trigram_heldout_from_layout(score, layout).collect()
        ]
        assert after == want, f"recovered serve after {crash_fn}"
        gs = spark.read.parquet(f"{read_current(layout)}/stats").collect()[0]
        assert gs["n_segments"] == 1
        assert ing.compact_staged_trigram(spark, layout) == 0


def test_staged_serving_derives_missing_stats(spark, tmp_path):
    """ADVICE r14: if the per-segment stats append is the step a crash
    ate, the staged serving reads must derive the counters from the
    segment's own rows instead of serving base counters against
    unioned rows (drifted idf / length norms / n_total)."""
    import shutil as _sh

    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval, text
    import pithos_spark.streaming.ingest as ing

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    # postings: derivation sees distinct (doc_id, dl) pairs, so keep
    # the delta to documents with at least one token
    toked = docs.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 1)
    base = toked.filter("doc_id % 2 = 0")
    delta = toked.filter("doc_id % 2 = 1")
    p_layout = str(tmp_path / "postings_nostats")
    retrieval.write_postings_layout(base, p_layout)
    src = str(tmp_path / "ns_src")
    delta.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = ing.streaming_postings_ingest(
        stream, p_layout, str(tmp_path / "ns_ckpt")
    )
    q.awaitTermination(120)
    q.stop()
    _sh.rmtree(f"{p_layout}/staged_stats")  # the crash artifact
    full = str(tmp_path / "ns_full")
    retrieval.write_postings_layout(toked, full)
    want = [
        tuple(r)
        for r in retrieval.bm25_topk_from_postings(spark, full).collect()
    ]
    got = [
        tuple(r) for r in ing.bm25_topk_with_staged(spark, p_layout).collect()
    ]
    assert got == want

    # trigram: n_total re-derives exactly from the segment's c3 sums
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    t_layout = str(tmp_path / "trigram_nostats")
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), t_layout)
    tsrc = str(tmp_path / "tns_src")
    lm.filter("doc_id % 40 = 0").write.parquet(tsrc)
    stream = spark.readStream.schema(docs.schema).parquet(tsrc)
    q = ing.streaming_trigram_ingest(
        stream, t_layout, str(tmp_path / "tns_ckpt")
    )
    q.awaitTermination(120)
    q.stop()
    _sh.rmtree(f"{t_layout}/staged_stats")
    t_full = str(tmp_path / "tns_full")
    text.write_trigram_lm_layout(lm, t_full)
    t_want = [
        tuple(r)
        for r in text.trigram_heldout_from_layout(score, t_full).collect()
    ]
    t_got = [
        tuple(r)
        for r in ing.trigram_heldout_with_staged(score, t_layout).collect()
    ]
    assert t_got == t_want


def test_compact_trigram_if_needed_policy(spark, tmp_path):
    """The SCALE_r15 policy helper: below the occupancy threshold it
    does nothing; at/above it, it folds and serving returns to the
    one-segment fast path — scores unchanged either way."""
    import os

    import pyspark.sql.functions as F

    from pithos_spark import tables as T
    from pithos_spark.functions import text
    from pithos_spark.functions.layoutcommit import read_current
    from pithos_spark.streaming.ingest import (
        compact_trigram_if_needed,
        streaming_trigram_ingest,
        trigram_heldout_with_staged,
    )

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    lm = docs.filter("doc_id % 4 = 0")
    score = docs.filter("doc_id % 4 <> 0")
    layout = str(tmp_path / "trigram_policy")
    text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), layout)
    src = str(tmp_path / "policy_src")
    lm.filter("doc_id % 40 = 0").repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_trigram_ingest(stream, layout, str(tmp_path / "policy_ck"))
    q.awaitTermination(120)
    q.stop()

    want = [
        tuple(r)
        for r in trigram_heldout_with_staged(score, layout).collect()
    ]
    # two staged segments put the unigram row at ~3000; a sky-high
    # threshold must not fold...
    assert compact_trigram_if_needed(spark, layout, 99_000) == 0
    assert os.path.isdir(f"{layout}/staged")
    # ...the default (2000) must
    folded = compact_trigram_if_needed(spark, layout)
    assert folded > 0
    gs = spark.read.parquet(f"{read_current(layout)}/stats").collect()[0]
    assert gs["n_segments"] == 1
    got = [
        tuple(r)
        for r in trigram_heldout_with_staged(score, layout).collect()
    ]
    assert got == want
    # idempotent: nothing left to fold
    assert compact_trigram_if_needed(spark, layout) == 0


def test_generation_gc_and_staged_stats_bounded(spark, tmp_path, monkeypatch):
    """VERDICT r15 task 5 + ADVICE r15: compaction reclaims its own
    garbage.  After each fold commits, (a) disk holds exactly ONE
    generation — every superseded ``fold_gen_*`` and, once a fold
    generation is live, generation 0's table leftovers are gone; (b)
    the ``staged_stats`` table is rewritten down to live rows (here:
    gone — nothing staged survives the fold), so it no longer grows by
    one file per micro-batch forever; and (c) a reader serving BETWEEN
    the pointer swap and the GC (the mid-cleanup window) sees exact
    results."""
    import os

    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval
    from pithos_spark.functions.layoutcommit import read_current

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    layout = str(tmp_path / "postings_gc")
    retrieval.write_postings_layout(docs.filter("doc_id % 3 = 0"), layout)

    mid_gc_reads = []
    real_gc = ing.gc_generations

    def gc_with_mid_read(path):
        # a reader in the swap→GC window: must serve exactly
        mid_gc_reads.append(
            [tuple(r) for r in ing.bm25_topk_with_staged(spark, layout).collect()]
        )
        return real_gc(path)

    monkeypatch.setattr(ing, "gc_generations", gc_with_mid_read)

    for i, dpred, cpred in (
        (0, "doc_id % 3 = 1", "doc_id % 3 <= 1"),
        (1, "doc_id % 3 = 2", "doc_id >= 0"),
    ):
        src = str(tmp_path / f"gc_src_{i}")
        docs.filter(dpred).write.parquet(src)
        q = ing.streaming_postings_ingest(
            spark.readStream.schema(docs.schema).parquet(src),
            layout,
            str(tmp_path / f"gc_ckpt_{i}"),
        )
        q.awaitTermination(120)
        q.stop()
        assert ing.compact_staged_postings(spark, layout) > 0

        full = str(tmp_path / f"gc_full_{i}")
        retrieval.write_postings_layout(docs.filter(cpred), full)
        want = [
            tuple(r)
            for r in retrieval.bm25_topk_from_postings(spark, full).collect()
        ]
        assert mid_gc_reads[-1] == want  # the mid-GC reader was exact
        assert [
            tuple(r)
            for r in retrieval.bm25_topk_from_postings(spark, layout).collect()
        ] == want

        # exactly one generation on disk: the CURRENT fold dir + the
        # pointer file; gen-0 leftovers and older folds reclaimed
        cur = os.path.basename(read_current(layout))
        names = sorted(os.listdir(layout))
        assert names == ["CURRENT", cur], names
        # staged_stats no longer accretes one file per batch forever
        assert not os.path.exists(f"{layout}/staged_stats")


def test_streaming_pq_index_ingest_matches_batch(spark, tmp_path):
    """Vector twin of the postings stream test (r16): codebooks
    trained on 3/4 of the vectors, the remaining 1/4 streamed in as
    micro-batches of staged code segments.  The staged serve must
    equal the batch-append layout (itself proven equal to a one-pass
    frozen-codebook encode in test_layout.py); compaction then folds
    the segments through the generation commit, the plain layout read
    returns the same rows, and disk holds exactly one generation."""
    import os

    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import read_current

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    layout = str(tmp_path / "pq_layout")
    sim.save_pq_index(base, layout)
    ref = str(tmp_path / "pq_ref")
    sim.save_pq_index(base, ref)
    sim.append_to_pq_index(delta, ref)
    want = [
        tuple(r) for r in sim.pq_topk_from_layout(emb, ref, 0, 10).collect()
    ]

    src = str(tmp_path / "pq_delta_src")
    delta.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ing.streaming_pq_index_ingest(
        stream, layout, str(tmp_path / "pq_ckpt")
    )
    q.awaitTermination(120)

    got = [
        tuple(r)
        for r in ing.pq_topk_with_staged(emb, layout, 0, 10).collect()
    ]
    assert got == want and len(got) == 10
    # the batched staged serve (r17) equals the batch read over the
    # batch-append reference — the query-stream shape works pre-fold
    want_b = [
        tuple(r)
        for r in sim.pq_batch_topk_from_layout(
            emb, ref, [0, 2, 4], 10
        ).collect()
    ]
    assert [
        tuple(r)
        for r in ing.pq_batch_topk_with_staged(
            emb, layout, [0, 2, 4], 10
        ).collect()
    ] == want_b
    # every delta vector is searchable, exactly once, before any fold
    staged = spark.read.parquet(f"{layout}/staged")
    n_staged_rows = staged.count()
    assert staged.select("vec_id").distinct().count() == delta.count()

    folded = ing.compact_staged_pq(spark, layout)
    assert folded == n_staged_rows
    assert [
        tuple(r)
        for r in sim.pq_topk_from_layout(emb, layout, 0, 10).collect()
    ] == want
    # the staged-aware read over the compacted layout agrees (no live
    # segments left to union)
    assert [
        tuple(r)
        for r in ing.pq_topk_with_staged(emb, layout, 0, 10).collect()
    ] == want
    # ...and the batched staged serve over the compacted layout
    assert [
        tuple(r)
        for r in ing.pq_batch_topk_with_staged(
            emb, layout, [0, 2, 4], 10
        ).collect()
    ] == want_b
    # exactly one generation on disk (gc_generations ran in the fold)
    cur = os.path.basename(read_current(layout))
    assert sorted(os.listdir(layout)) == ["CURRENT", cur]
    assert ing.compact_staged_pq(spark, layout) == 0


def test_streaming_ivfpq_residual_ingest_matches_batch(spark, tmp_path):
    """Canonical-index twin of the PQ stream test (r16): coarse
    centroids + residual codebooks trained on 3/4 of the vectors, the
    remaining 1/4 streamed in as staged code segments.  The staged
    serve must equal the batch-append layout (proven equal to a
    one-pass frozen encode in test_layout.py); the fold restores the
    cluster directory partitioning, the plain layout read agrees, and
    disk holds exactly one generation."""
    import os

    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import read_current

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    layout = str(tmp_path / "ivfpq_layout")
    sim.save_ivfpq_residual_index(base, layout)
    ref = str(tmp_path / "ivfpq_ref")
    sim.save_ivfpq_residual_index(base, ref)
    sim.append_to_ivfpq_residual_index(delta, ref)
    want = [
        tuple(r)
        for r in sim.ivfpq_residual_topk_from_layout(
            emb, ref, 0, 10
        ).collect()
    ]

    src = str(tmp_path / "ivfpq_delta_src")
    delta.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ing.streaming_ivfpq_residual_ingest(
        stream, layout, str(tmp_path / "ivfpq_ckpt")
    )
    q.awaitTermination(120)

    got = [
        tuple(r)
        for r in ing.ivfpq_residual_topk_with_staged(
            emb, layout, 0, 10
        ).collect()
    ]
    assert got == want and len(got) == 10
    # the batched staged serve (r17) equals the batch read over the
    # batch-append reference
    want_b = [
        tuple(r)
        for r in sim.ivfpq_residual_batch_topk_from_layout(
            emb, ref, [0, 2, 4], 10
        ).collect()
    ]
    assert [
        tuple(r)
        for r in ing.ivfpq_residual_batch_with_staged(
            emb, layout, [0, 2, 4], 10
        ).collect()
    ] == want_b
    staged = spark.read.parquet(f"{layout}/staged")
    n_staged_rows = staged.count()
    assert staged.select("vec_id").distinct().count() == delta.count()

    folded = ing.compact_staged_ivfpq_residual(spark, layout)
    assert folded == n_staged_rows
    assert [
        tuple(r)
        for r in sim.ivfpq_residual_topk_from_layout(
            emb, layout, 0, 10
        ).collect()
    ] == want
    assert [
        tuple(r)
        for r in ing.ivfpq_residual_topk_with_staged(
            emb, layout, 0, 10
        ).collect()
    ] == want
    assert [
        tuple(r)
        for r in ing.ivfpq_residual_batch_with_staged(
            emb, layout, [0, 2, 4], 10
        ).collect()
    ] == want_b
    # the fold restored the cluster directory partitioning
    root = read_current(layout)
    assert any(
        d.startswith("cluster=") for d in os.listdir(f"{root}/codes")
    )
    cur = os.path.basename(root)
    assert sorted(os.listdir(layout)) == ["CURRENT", cur]
    assert ing.compact_staged_ivfpq_residual(spark, layout) == 0


def test_streaming_ivf_ingest_matches_batch(spark, tmp_path):
    """Plain-IVF twin of the PQ/residual stream tests (r17 — VERDICT
    r16 task 4 closed the last lifecycle asymmetry): centers trained
    on 3/4 of the vectors, the remaining 1/4 streamed in as staged
    assignment segments.  Both staged serves (probe topk + SemDeDup
    sweep) must equal the batch-append layout; the fold restores the
    cluster directory partitioning, the plain layout read agrees, and
    disk holds exactly one generation."""
    import os

    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import read_current

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 3)
    delta = emb.filter(F.col("vec_id") % 4 == 3)

    assigned, centers = sim.build_ivf_lloyd_index(base, 8, 2)
    layout = str(tmp_path / "ivf_layout")
    sim.save_ivf_index(assigned, centers, layout)
    ref = str(tmp_path / "ivf_ref")
    sim.save_ivf_index(assigned, centers, ref)
    sim.append_to_ivf_index(delta, ref)

    def serve_topk(path):
        a, c = sim.load_ivf_index(spark, path)
        return [
            tuple(r)
            for r in sim.ivf_query(
                a, c, 0, 10, 2, cluster_col="cluster", metric="l2"
            )
            .drop("query_id")
            .collect()
        ]

    want = serve_topk(ref)
    want_pairs = [
        tuple(r)
        for r in sim.semantic_dedup_pairs_from_layout(spark, ref).collect()
    ]

    src = str(tmp_path / "ivf_delta_src")
    delta.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ing.streaming_ivf_ingest(stream, layout, str(tmp_path / "ivf_ckpt"))
    q.awaitTermination(120)

    got = [
        tuple(r)
        for r in ing.ivf_topk_with_staged(spark, layout, 0, 10).collect()
    ]
    assert got == want and len(got) == 10
    assert [
        tuple(r)
        for r in ing.semantic_dedup_pairs_with_staged(spark, layout).collect()
    ] == want_pairs
    # every delta vector is searchable, exactly once, before any fold
    staged = spark.read.parquet(f"{layout}/staged")
    n_staged_rows = staged.count()
    assert staged.select("vec_id").distinct().count() == delta.count()
    # the staged telemetry report (r17): one row per live segment,
    # counts summing to the staged rows, fold verdict per the policy
    stats = ing.ann_staged_stats(spark, layout).collect()
    assert len(stats) == 3
    assert sum(int(r["rows"]) for r in stats) == n_staged_rows
    assert all(
        bool(r["fold_due"]) == (3 >= ing.COMPACT_ANN_WHEN_SEGMENTS)
        for r in stats
    )

    folded = ing.compact_staged_ivf(spark, layout)
    assert folded == n_staged_rows
    assert serve_topk(layout) == want
    assert [
        tuple(r)
        for r in ing.ivf_topk_with_staged(spark, layout, 0, 10).collect()
    ] == want
    assert [
        tuple(r)
        for r in sim.semantic_dedup_pairs_from_layout(
            spark, layout
        ).collect()
    ] == want_pairs
    # the fold restored the cluster directory partitioning
    root = read_current(layout)
    assert any(
        d.startswith("cluster=") for d in os.listdir(f"{root}/assigned")
    )
    cur = os.path.basename(root)
    assert sorted(os.listdir(layout)) == ["CURRENT", cur]
    assert ing.compact_staged_ivf(spark, layout) == 0
    # post-fold the telemetry report is empty (nothing staged)
    assert ing.ann_staged_stats(spark, layout).count() == 0


def test_staged_serves_resolve_generation_once(spark, tmp_path, monkeypatch):
    """ADVICE r16 (medium) regression pin: a staged serve that
    resolves CURRENT twice — once for the base read, once for the
    staged mask — races a concurrent fold (segments folded between
    the two resolutions are masked while their rows exist only in the
    newer base).  Count the resolutions during plan construction:
    exactly ONE, threaded through both reads."""
    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions import text as txt

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    layout = str(tmp_path / "pq_once")
    sim.save_pq_index(emb.filter("vec_id % 2 = 0"), layout)
    src = str(tmp_path / "pq_once_src")
    emb.filter("vec_id % 2 = 1").write.parquet(src)
    q = ing.streaming_pq_index_ingest(
        spark.readStream.schema(emb.schema).parquet(src),
        layout,
        str(tmp_path / "pq_once_ckpt"),
    )
    q.awaitTermination(120)
    q.stop()

    calls = []
    real = sim.read_current

    def counting(path):
        calls.append(path)
        return real(path)

    # the loader resolves once and threads the root through the base
    # read and the staged mask
    monkeypatch.setattr(sim, "read_current", counting)
    ing.pq_topk_with_staged(emb, layout, 0, 10)  # plan construction
    assert len(calls) == 1, calls

    docs = T.load_tables(spark, SF_SMOKE)["documents"]
    tri = str(tmp_path / "tri_once")
    txt.write_trigram_lm_layout(docs.filter("doc_id % 2 = 0"), tri)
    monkeypatch.setattr(txt, "read_current", counting)
    calls.clear()
    ing.trigram_segment_stats_with_staged(spark, tri)
    assert len(calls) == 1, calls


def test_gc_staged_stats_survives_concurrent_append(spark, tmp_path, monkeypatch):
    """ADVICE r16 regression pin for the file-level staged-stats GC:
    a stats row a concurrent ingest appends between the GC's file
    snapshot and its cleanup must SURVIVE (the old rmtree+swap
    destroyed it — and for postings the derivation fallback can't see
    zero-token docs, so that loss was a permanent score drift).
    Deterministic interleaving: the concurrent append is injected
    inside staged_segment_keys, which _gc_staged_stats calls AFTER
    snapshotting the data files."""
    import os

    import pithos_spark.streaming.ingest as ing

    layout = str(tmp_path / "race_layout")
    os.makedirs(f"{layout}/staged/seg=live1")

    def stats_row(seg, val, mode="append"):
        (
            spark.createDataFrame([(seg, val)], "seg string, n_docs long")
            .repartition(1)
            .write.mode(mode)
            .parquet(f"{layout}/staged_stats")
        )

    stats_row("folded_old", 5)  # row for an already-folded segment

    real = ing.staged_segment_keys

    def keys_with_concurrent_append(path, staged="staged"):
        stats_row("live1", 7)  # the racing ingest's append
        return real(path, staged)

    monkeypatch.setattr(ing, "staged_segment_keys", keys_with_concurrent_append)
    ing._gc_staged_stats(spark, layout)

    rows = {
        (r["seg"], int(r["n_docs"]))
        for r in spark.read.parquet(f"{layout}/staged_stats").collect()
    }
    assert ("live1", 7) in rows, rows  # the concurrent row survived
    assert not any(s == "folded_old" for s, _ in rows)  # GC still GCs


def test_ann_fold_policy_trigger(tmp_path):
    """SCALE_r17 §3 policy as code: the ANN fold trigger keys on live
    staged segment COUNT (no read-merge arithmetic to weigh, unlike
    the gram knob).  Below threshold the *_if_needed forms return 0
    without touching Spark or the layout; the folded-mask exclusion
    still applies (a folded-but-undeleted segment is not live)."""
    import os

    import pithos_spark.streaming.ingest as ing

    layout = str(tmp_path / "ann_layout")
    os.makedirs(f"{layout}/staged")
    for i in range(ing.COMPACT_ANN_WHEN_SEGMENTS - 1):
        os.makedirs(f"{layout}/staged/seg=tok-{i}")
    assert not ing.ann_fold_due(None, layout)
    assert ing.compact_staged_pq_if_needed(None, layout) == 0
    assert ing.compact_staged_ivfpq_residual_if_needed(None, layout) == 0
    assert ing.compact_staged_ivf_if_needed(None, layout) == 0
    # the objects knob rides the same live-segment predicate
    assert not ing.objects_fold_due(None, layout)
    assert ing.compact_staged_objects_if_needed(None, layout) == 0

    os.makedirs(f"{layout}/staged/seg=tok-last")
    assert ing.ann_fold_due(None, layout)
    # a custom threshold moves the line
    assert not ing.ann_fold_due(None, layout, min_segments=99)


def test_compact_staged_ivf_crash_recovery(spark, tmp_path):
    """Plain-IVF entry in the compaction crash matrix: kill the fold
    at each driver-side step in turn (fresh staged segments ingested
    between rounds); the torn state must still serve bit-identically
    to a batch-append reference over the vectors ingested so far, and
    a re-run must recover completely."""
    import pyspark.sql.functions as F
    import pytest as _pt

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 8 == 0)
    assigned, centers = sim.build_ivf_lloyd_index(base, 8, 2)
    layout = str(tmp_path / "ivf_crash")
    sim.save_ivf_index(assigned, centers, layout)
    ref = str(tmp_path / "ivf_crash_ref")
    sim.save_ivf_index(assigned, centers, ref)

    def serve_topk(path):
        a, c = sim.load_ivf_index(spark, path)
        return [
            tuple(r)
            for r in sim.ivf_query(
                a, c, 0, 10, 2, cluster_col="cluster", metric="l2"
            )
            .drop("query_id")
            .collect()
        ]

    deltas = [f"vec_id % 8 = {m}" for m in (1, 2, 3, 4, 5)]
    for i, (crash_fn, dpred) in enumerate(zip(_CRASH_POINTS, deltas)):
        delta = emb.filter(dpred)
        src = str(tmp_path / f"ic_src_{i}")
        delta.write.parquet(src)
        stream = spark.readStream.schema(emb.schema).parquet(src)
        q = ing.streaming_ivf_ingest(
            stream, layout, str(tmp_path / f"ic_ckpt_{i}")
        )
        q.awaitTermination(120)
        q.stop()

        sim.append_to_ivf_index(delta, ref)
        want = serve_topk(ref)

        mp = _pt.MonkeyPatch()
        mp.setattr(ing, crash_fn, _boom)
        with _pt.raises(RuntimeError, match="injected crash"):
            ing.compact_staged_ivf(spark, layout)
        mp.undo()

        # the torn state serves exactly — no double count, no loss
        got = [
            tuple(r)
            for r in ing.ivf_topk_with_staged(spark, layout, 0, 10).collect()
        ]
        assert got == want, f"torn serve after crash at {crash_fn}"

        # recovery: a plain re-run finishes (or redoes) the fold
        ing.compact_staged_ivf(spark, layout)
        assert serve_topk(layout) == want, (
            f"recovered base serve after {crash_fn}"
        )
        assert [
            tuple(r)
            for r in ing.ivf_topk_with_staged(spark, layout, 0, 10).collect()
        ] == want
        assert ing.compact_staged_ivf(spark, layout) == 0


@pytest.mark.parametrize("kind", ["pq", "ivfpq_residual"])
def test_compact_staged_pq_family_crash_recovery(spark, tmp_path, kind):
    """PQ and residual-IVFADC entries in the compaction crash matrix
    (compact_staged_pq is the ingest benchmark's fold path): kill the
    fold at each driver-side step in turn, with fresh staged segments
    ingested between rounds; the torn state must serve bit-identically
    to a batch-append reference over the vectors ingested so far, a
    re-run must recover, and a further fold must return 0."""
    import pyspark.sql.functions as F
    import pytest as _pt

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim

    save, append, stage, fold, staged_serve, serve = {
        "pq": (
            sim.save_pq_index,
            sim.append_to_pq_index,
            ing.streaming_pq_index_ingest,
            ing.compact_staged_pq,
            ing.pq_topk_with_staged,
            sim.pq_topk_from_layout,
        ),
        "ivfpq_residual": (
            sim.save_ivfpq_residual_index,
            sim.append_to_ivfpq_residual_index,
            ing.streaming_ivfpq_residual_ingest,
            ing.compact_staged_ivfpq_residual,
            ing.ivfpq_residual_topk_with_staged,
            sim.ivfpq_residual_topk_from_layout,
        ),
    }[kind]

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 8 == 0)
    layout = str(tmp_path / f"{kind}_crash")
    ref = str(tmp_path / f"{kind}_crash_ref")
    save(base, layout)
    save(base, ref)

    deltas = [f"vec_id % 8 = {m}" for m in (1, 2, 3, 4, 5)]
    for i, (crash_fn, dpred) in enumerate(zip(_CRASH_POINTS, deltas)):
        delta = emb.filter(dpred)
        src = str(tmp_path / f"{kind}_src_{i}")
        delta.write.parquet(src)
        q = stage(
            spark.readStream.schema(emb.schema).parquet(src),
            layout,
            str(tmp_path / f"{kind}_ckpt_{i}"),
        )
        q.awaitTermination(120)
        q.stop()

        append(delta, ref)
        want = [tuple(r) for r in serve(emb, ref, 0, 10).collect()]
        assert len(want) == 10

        mp = _pt.MonkeyPatch()
        mp.setattr(ing, crash_fn, _boom)
        with _pt.raises(RuntimeError, match="injected crash"):
            fold(spark, layout)
        mp.undo()

        # the torn state serves exactly — no double count, no loss
        got = [tuple(r) for r in staged_serve(emb, layout, 0, 10).collect()]
        assert got == want, f"torn serve after crash at {crash_fn}"

        # recovery: a plain re-run finishes (or redoes) the fold
        fold(spark, layout)
        assert [
            tuple(r) for r in serve(emb, layout, 0, 10).collect()
        ] == want, f"recovered base serve after {crash_fn}"
        assert [
            tuple(r) for r in staged_serve(emb, layout, 0, 10).collect()
        ] == want
        assert fold(spark, layout) == 0


def _object_mutations(base):
    """The registry's shared deterministic mutation batches (also the
    LSM gates' oracle CTE) — imported so the lifecycle tests and the
    hash gates exercise the identical fixture."""
    from pithos_spark.registry import objects_lsm_mutations

    return objects_lsm_mutations(base)


def _apply_mutations_batch(base, batch1, batch2):
    """The batch-op reference: merge_upsert/bulk_delete applied in
    stream order — what the LSM serve must equal."""
    from pithos_spark.sources.store import bulk_delete, merge_upsert

    keys = ["bucket", "object"]
    state = merge_upsert(base, batch1.filter("not _tombstone").drop("_tombstone"), keys)
    state = merge_upsert(state, batch2.filter("not _tombstone").drop("_tombstone"), keys)
    return bulk_delete(state, batch2.filter("_tombstone").select(*keys), keys)


def test_streaming_objects_ingest_matches_batch(spark, tmp_path):
    """The objects layout's LSM lifecycle (r17 — the last one-shot
    layout): two streamed mutation segments (upserts, inserts,
    tombstones, a cross-segment override) must serve — full merged
    state AND the ListObjects plan over it — exactly the state the
    batch MERGE/DELETE ops produce; the fold materializes that state
    into a new generation and disk holds exactly one generation."""
    import os

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions.layoutcommit import read_current
    from pithos_spark.operators.listing import list_objects

    base = T.objects_df(T.load_tables(spark, SF_SMOKE))
    batch1, batch2 = _object_mutations(base)
    ref = _apply_mutations_batch(base, batch1, batch2)
    want_state = sorted(tuple(r) for r in ref.collect())
    want_listing = [
        tuple(r)
        for r in list_objects(ref, "NATION_2", "", "/", None, 1000).collect()
    ]

    layout = str(tmp_path / "objects_lsm")
    ing.save_objects_layout(base, layout)
    src = str(tmp_path / "mut_src")
    ckpt = str(tmp_path / "mut_ckpt")
    batch1.write.mode("append").parquet(src)
    q = ing.streaming_objects_ingest(
        spark.readStream.schema(batch1.schema).parquet(src), layout, ckpt
    )
    q.awaitTermination(120)
    q.stop()
    batch2.write.mode("append").parquet(src)  # second stream run, same ckpt
    q = ing.streaming_objects_ingest(
        spark.readStream.schema(batch1.schema).parquet(src), layout, ckpt
    )
    q.awaitTermination(120)
    q.stop()

    got_state = sorted(
        tuple(r)
        for r in ing.objects_with_staged(spark, layout)
        .select(*ref.columns)
        .collect()
    )
    assert got_state == want_state
    assert [
        tuple(r)
        for r in ing.list_objects_with_staged(
            spark, layout, "NATION_2", "", "/"
        ).collect()
    ] == want_listing
    # the inserted prefix is listable and a tombstoned key is gone,
    # pre-fold (not just equal-by-accident empty checks)
    names = {r["name"] for r in ing.list_objects_with_staged(
        spark, layout, "NATION_2", "", "/"
    ).collect()}
    assert "9-INSERTED/" in names

    # staged telemetry (the objects analog of ann_staged_stats): one
    # row per live mutation segment, rows/tombstones summing to the
    # batches' totals, fold verdict per the segment-count policy
    n_mut = batch1.count() + batch2.count()
    n_tomb = batch1.filter("_tombstone").count() + batch2.filter(
        "_tombstone"
    ).count()
    stats = ing.objects_staged_stats(spark, layout).collect()
    assert len(stats) == 2
    assert sum(int(r["rows"]) for r in stats) == n_mut
    assert sum(int(r["tombstones"]) for r in stats) == n_tomb
    assert all(
        bool(r["fold_due"]) == (2 >= ing.COMPACT_OBJECTS_WHEN_SEGMENTS)
        for r in stats
    )
    # the policy form: below the default knob it declines to fold, at
    # an explicit threshold it folds through the same protocol
    assert not ing.objects_fold_due(spark, layout)
    assert ing.compact_staged_objects_if_needed(spark, layout) == 0
    folded = ing.compact_staged_objects_if_needed(
        spark, layout, min_segments=2
    )
    assert folded == n_mut
    root = read_current(layout)
    post = spark.read.parquet(f"{root}/objects")
    assert sorted(tuple(r) for r in post.select(*ref.columns).collect()) == want_state
    assert [
        tuple(r)
        for r in ing.list_objects_with_staged(
            spark, layout, "NATION_2", "", "/"
        ).collect()
    ] == want_listing
    cur = os.path.basename(root)
    assert sorted(os.listdir(layout)) == ["CURRENT", cur]
    assert ing.compact_staged_objects(spark, layout) == 0
    # post-fold the telemetry report is empty (nothing staged)
    assert ing.objects_staged_stats(spark, layout).count() == 0


def test_compact_staged_objects_crash_recovery(spark, tmp_path):
    """Objects-layout entry in the compaction crash matrix: kill the
    fold at each driver-side step (a fresh mutation segment streamed
    in between rounds); the torn LSM state must still serve exactly
    the batch-op reference — no double-apply, no lost tombstone — and
    a re-run recovers completely."""
    import pyspark.sql.functions as F
    import pytest as _pt

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions.layoutcommit import read_current
    from pithos_spark.sources.store import bulk_delete, merge_upsert

    base = T.objects_df(T.load_tables(spark, SF_SMOKE))
    layout = str(tmp_path / "objects_crash")
    ing.save_objects_layout(base, layout)
    keys = ["bucket", "object"]
    ref = base
    ik = F.col("inode").cast("long")

    for i, crash_fn in enumerate(_CRASH_POINTS):
        # a key appears at most once per batch (the ingest contract):
        # keep the tombstone when a key would land in both halves
        ups = (
            base.filter((ik % 9 == i) & ~(ik % 17 == i))
            .withColumn("size", F.col("size") + 100 * (i + 1))
            .withColumn("_tombstone", F.lit(False))
        )
        tombs = base.filter(ik % 17 == i).withColumn(
            "_tombstone", F.lit(True)
        )
        batch = ups.unionByName(tombs)
        src = str(tmp_path / f"oc_src_{i}")
        batch.write.parquet(src)
        q = ing.streaming_objects_ingest(
            spark.readStream.schema(batch.schema).parquet(src),
            layout,
            str(tmp_path / f"oc_ckpt_{i}"),
        )
        q.awaitTermination(120)
        q.stop()
        ref = bulk_delete(
            merge_upsert(ref, ups.drop("_tombstone"), keys),
            tombs.select(*keys),
            keys,
        )
        want = sorted(tuple(r) for r in ref.collect())

        mp = _pt.MonkeyPatch()
        mp.setattr(ing, crash_fn, _boom)
        with _pt.raises(RuntimeError, match="injected crash"):
            ing.compact_staged_objects(spark, layout)
        mp.undo()

        got = sorted(
            tuple(r)
            for r in ing.objects_with_staged(spark, layout)
            .select(*ref.columns)
            .collect()
        )
        assert got == want, f"torn LSM serve after crash at {crash_fn}"

        ing.compact_staged_objects(spark, layout)
        root = read_current(layout)
        post = spark.read.parquet(f"{root}/objects").select(*ref.columns)
        assert sorted(tuple(r) for r in post.collect()) == want, (
            f"recovered base after {crash_fn}"
        )
        assert ing.compact_staged_objects(spark, layout) == 0


def _jobs_run(spark, call) -> int:
    """Spark jobs started while ``call()`` runs, the streaming query's
    own micro-batch jobs included (a job-id range, read after the
    listener bus drains — the perfbench Recorder's count)."""
    sc = spark.sparkContext._jsc.sc()
    first = sc.dagScheduler().numTotalJobs()
    call()
    sc.listenerBus().waitUntilEmpty()
    return sc.dagScheduler().numTotalJobs() - first


def _run_stream(spark, fn, src, schema, layout, ckpt):
    """Run ``fn`` (a staged ingest) over the parquet files in ``src``,
    one file per micro-batch, to completion."""
    q = fn(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        layout,
        ckpt,
    )
    q.awaitTermination(120)
    q.stop()


def test_staged_layout_job_counts(spark, tmp_path, caplog):
    """The staged lifecycle's job budget for the objects and PQ layouts:
    staging a segment is ONE job (its write — no ``isEmpty`` probe, no
    range sample or shuffle); defining a staged read runs NO job (base
    and segments are read with the declared schemas, so nothing infers
    one); a staged read's action runs only its plan's jobs; and a fold
    runs only the writes of its merged table (the rows folded come from
    the segment footers, the tiny tables are copied as bytes and the
    fold mask is written on the driver)."""
    import logging

    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import staged_segment_keys

    t = T.load_tables(spark, SF_SMOKE)
    # -- objects -------------------------------------------------------
    base = T.objects_df(t)
    batch1, _ = _object_mutations(base)
    layout = str(tmp_path / "objects")
    ing.save_objects_layout(base, layout)
    n_mut = batch1.count()
    src = str(tmp_path / "obj_src")
    batch1.repartition(2).write.parquet(src)
    stage = _jobs_run(spark, lambda: _run_stream(
        spark, ing.streaming_objects_ingest, src, batch1.schema, layout,
        str(tmp_path / "obj_ckpt"),
    ))
    assert len(staged_segment_keys(layout)) == 2
    listing = {}
    define = _jobs_run(spark, lambda: listing.setdefault(
        "df", ing.list_objects_with_staged(spark, layout, "NATION_2", "", "/")
    ))
    read = _jobs_run(spark, lambda: listing["df"].collect())
    # the staged telemetry reads each segment with its declared schema
    stats = _jobs_run(
        spark, lambda: ing.objects_staged_stats(spark, layout).collect()
    )
    assert stats == 4
    with caplog.at_level(logging.INFO, logger="pithos_spark"):
        assert ing.compact_staged_objects_if_needed(spark, layout) == 0
        folded = {}
        fold = _jobs_run(spark, lambda: folded.setdefault(
            "n", ing.compact_staged_objects_if_needed(spark, layout, 2)
        ))
    assert folded["n"] == n_mut
    assert (stage, define, read, fold) == (2, 0, 3, 4)
    decisions = [r.getMessage() for r in caplog.records]
    assert (
        f"fold policy {layout}: 2 live segments, threshold "
        f"{ing.COMPACT_OBJECTS_WHEN_SEGMENTS}: skipped"
    ) in decisions
    assert (
        f"fold policy {layout}: 2 live segments, threshold 2: "
        f"folded {n_mut} rows"
    ) in decisions

    # -- PQ ------------------------------------------------------------
    emb = t["embeddings"]
    layout = str(tmp_path / "pq")
    sim.save_pq_index(emb.filter(F.col("vec_id") % 4 != 3), layout)
    delta = emb.filter(F.col("vec_id") % 4 == 3)
    src = str(tmp_path / "pq_src")
    delta.repartition(2).write.parquet(src)
    stage = _jobs_run(spark, lambda: _run_stream(
        spark, ing.streaming_pq_index_ingest, src, emb.schema, layout,
        str(tmp_path / "pq_ckpt"),
    ))
    served = {}
    define = _jobs_run(
        spark, lambda: served.setdefault(
            "index",
            sim.load_pq_index(spark, layout),
        )
    )
    # the serving tail: the query-vector collect, then the plan's jobs
    read = _jobs_run(spark, lambda: ing.pq_topk_with_staged(
        emb, layout, 0, 10
    ).collect())
    # the ANN telemetry counts each segment's rows from its footers
    stats = _jobs_run(
        spark, lambda: ing.ann_staged_stats(spark, layout).collect()
    )
    assert stats == 0
    folded = {}
    fold = _jobs_run(spark, lambda: folded.setdefault(
        "n", ing.compact_staged_pq_if_needed(spark, layout, 2)
    ))
    assert folded["n"] == delta.count() * 8  # M = 8 code rows per vector
    assert (stage, define, read, fold) == (2, 0, 6, 3)


# (single-query serve, batch serve) jobs over base ∪ 2 staged segments,
# then over the folded generation
_ANN_SERVE_JOBS = {"pq": ((6, 9), (6, 9)), "residual": ((7, 10), (7, 10))}


@pytest.mark.parametrize("kind", sorted(_ANN_SERVE_JOBS))
def test_staged_ann_serve_job_counts(spark, tmp_path, kind):
    """The Spark jobs of the PQ-family serve shapes — plain PQ and
    residual IVFADC, one query and a batch of three — over a base plus
    two staged segments, and again after the fold: the query-vector
    collect, then the serving plan's jobs.  All four shapes run one ADC
    tail, so a change to it moves these counts."""
    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import staged_segment_keys

    save, ingest, single, batch, fold = {
        "pq": (
            sim.save_pq_index, ing.streaming_pq_index_ingest,
            ing.pq_topk_with_staged, ing.pq_batch_topk_with_staged,
            ing.compact_staged_pq,
        ),
        "residual": (
            sim.save_ivfpq_residual_index,
            ing.streaming_ivfpq_residual_ingest,
            ing.ivfpq_residual_topk_with_staged,
            ing.ivfpq_residual_batch_with_staged,
            ing.compact_staged_ivfpq_residual,
        ),
    }[kind]
    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    layout = str(tmp_path / kind)
    save(emb.filter(F.col("vec_id") % 4 != 3), layout)
    src = str(tmp_path / "src")
    emb.filter(F.col("vec_id") % 4 == 3).repartition(2).write.parquet(src)
    _run_stream(spark, ingest, src, emb.schema, layout, str(tmp_path / "ckpt"))
    assert len(staged_segment_keys(layout)) == 2

    def serve_jobs():
        # query 7 is a staged vector
        return (
            _jobs_run(spark, lambda: single(emb, layout, 7, 10).collect()),
            _jobs_run(
                spark, lambda: batch(emb, layout, [0, 7, 42], 10).collect()
            ),
        )

    staged = serve_jobs()
    assert fold(spark, layout) > 0
    assert (staged, serve_jobs()) == _ANN_SERVE_JOBS[kind]


def test_declared_layout_schemas_match_disk(spark, tmp_path):
    """Each layout's declared schema is exactly the schema Spark infers
    from the files on disk — names, order (a partition column such as
    ``bucket`` or ``cluster`` last), types and nullability — on the
    built base, on a staged segment and on the folded generation, so
    reading with the declaration changes no plan and no answer."""
    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import (
        read_current,
        staged_segment_keys,
    )
    from pithos_spark.sources.store import OBJECTS_LAYOUT_SCHEMA

    t = T.load_tables(spark, SF_SMOKE)
    emb, docs = t["embeddings"], t["documents"]
    e_base = emb.filter(F.col("vec_id") % 4 != 3)
    e_delta = emb.filter(F.col("vec_id") % 4 == 3)
    objects = T.objects_df(t)

    def ivf_build(rows, path):
        sim.save_ivf_index(*sim.build_ivf_lloyd_index(rows, 4, 1), path)

    cases = [
        # (name, build, ingest, fold, base rows, delta rows, table,
        #  declared base schema, declared segment schema)
        ("objects", ing.save_objects_layout, ing.streaming_objects_ingest,
         ing.compact_staged_objects, objects,
         _object_mutations(objects)[0], "objects", OBJECTS_LAYOUT_SCHEMA,
         ing.OBJECTS_SEGMENT_SCHEMA),
        ("pq", sim.save_pq_index, ing.streaming_pq_index_ingest,
         ing.compact_staged_pq, e_base, e_delta, "codes",
         sim.PQ_CODES_SCHEMA, sim.PQ_CODES_SCHEMA),
        ("residual", sim.save_ivfpq_residual_index,
         ing.streaming_ivfpq_residual_ingest,
         ing.compact_staged_ivfpq_residual, e_base, e_delta, "codes",
         sim.RESIDUAL_CODES_SCHEMA, sim.RESIDUAL_CODES_SCHEMA),
        ("ivf", ivf_build, ing.streaming_ivf_ingest, ing.compact_staged_ivf,
         e_base, e_delta, "assigned", sim.IVF_ASSIGNED_SCHEMA,
         sim.IVF_ASSIGNED_SCHEMA),
        ("postings", retrieval.write_postings_layout,
         ing.streaming_postings_ingest, ing.compact_staged_postings,
         docs.filter("doc_id % 4 != 3"), docs.filter("doc_id % 4 = 3"),
         "postings", retrieval.POSTINGS_SCHEMA, retrieval.POSTINGS_SCHEMA),
    ]
    for (name, build, ingest, fold, rows, delta, table, declared,
         segment) in cases:
        layout = str(tmp_path / name)
        build(rows, layout)
        assert spark.read.parquet(f"{layout}/{table}").schema == declared, name
        src = str(tmp_path / f"{name}_src")
        delta.write.parquet(src)
        _run_stream(spark, ingest, src, delta.schema, layout,
                    str(tmp_path / f"{name}_ckpt"))
        for seg in staged_segment_keys(layout):
            got = spark.read.parquet(f"{layout}/staged/seg={seg}").schema
            assert got == segment, name
        assert fold(spark, layout) > 0
        got = spark.read.parquet(f"{read_current(layout)}/{table}").schema
        assert got == declared, name


@pytest.mark.parametrize("kind", ["objects", "pq"])
def test_empty_batch_installs_no_segment(spark, tmp_path, caplog, kind):
    """A zero-row source file is an empty micro-batch: its segment is
    written, found empty from its footers and deleted — no installed
    segment, no ``staged_tmp/seg=*`` left behind, a decision log line,
    and the next fold has nothing to fold."""
    import glob
    import logging

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import staged_segment_keys

    t = T.load_tables(spark, SF_SMOKE)
    layout = str(tmp_path / kind)
    if kind == "objects":
        base = T.objects_df(t)
        ing.save_objects_layout(base, layout)
        empty = _object_mutations(base)[0].limit(0)
        ingest, fold = ing.streaming_objects_ingest, ing.compact_staged_objects
    else:
        ing_rows = t["embeddings"]
        sim.save_pq_index(ing_rows, layout)
        empty = ing_rows.limit(0)
        ingest, fold = ing.streaming_pq_index_ingest, ing.compact_staged_pq
    src = str(tmp_path / "src")
    empty.repartition(1).write.parquet(src)
    with caplog.at_level(logging.INFO, logger="pithos_spark"):
        _run_stream(spark, ingest, src, empty.schema, layout,
                    str(tmp_path / "ckpt"))
    assert glob.glob(f"{src}/*.parquet")  # the source holds one empty file
    assert staged_segment_keys(layout) == []
    assert glob.glob(f"{layout}/staged_tmp/seg=*") == []
    assert any(
        r.getMessage().startswith(f"stage {layout}: batch 0 is empty")
        for r in caplog.records
    )
    assert fold(spark, layout) == 0


# --- tiered folds: a minor fold merges the segments into a run ----------


def _append_batch(rows, src):
    """Add ``rows`` to a stream source as ONE new file: one more
    micro-batch for the next :func:`_run_stream` over the same
    checkpoint (batch ids, and so the objects ``_seq``, keep rising)."""
    rows.repartition(1).write.mode("append").parquet(src)


def _objects_delta(objects, pred, bump):
    """Overwrites (size bumped) and tombstones (every third inode) of
    the objects ``pred`` selects — at most once per key, the ingest
    contract."""
    import pyspark.sql.functions as F

    ik = F.col("inode").cast("long")
    return (
        objects.filter(pred)
        .withColumn("size", F.col("size") + bump)
        .withColumn("_tombstone", ik % 3 == 0)
    )


def _apply_objects_delta(state: dict, delta, columns) -> None:
    """The driver-side reference for one mutation batch: ``state`` maps
    (bucket, object) to the row's ``columns`` tuple; an upsert replaces
    the row, a tombstone deletes it."""
    for r in delta.select(*columns, "_tombstone").collect():
        key = (r["bucket"], r["object"])
        if r["_tombstone"]:
            state.pop(key, None)
        else:
            state[key] = tuple(r)[:-1]


def _objects_state(objects) -> dict:
    return {(r["bucket"], r["object"]): tuple(r) for r in objects.collect()}


# the minor fold's driver-side steps, in order: the BASE pointer that
# makes its generation thin, then the five every fold shares
_MINOR_CRASH_POINTS = ["write_base_pointer"] + _CRASH_POINTS


@pytest.mark.parametrize("kind", ["objects", "pq"])
def test_minor_fold_crash_recovery(spark, tmp_path, kind):
    """The minor fold in the crash matrix: one small segment staged per
    round (every fold stays minor), the policy fold killed at each
    driver-side step in turn.  The torn state's staged read equals the
    read after a re-run of the policy recovers (redoes the fold, or
    finishes its cleanup), and the rounds' answers accumulate to the
    batch reference — no double count, no loss (each round's delta
    touches keys no other round does, so a loss would persist)."""
    import pyspark.sql.functions as F
    import pytest as _pt

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import (
        read_current,
        run_path,
        staged_segment_keys,
        tables_root,
    )

    t = T.load_tables(spark, SF_SMOKE)
    layout = str(tmp_path / kind)
    if kind == "objects":
        objects = T.objects_df(t)
        ing.save_objects_layout(objects, layout)
        ik = F.col("inode").cast("long")
        deltas = [
            _objects_delta(objects, ik % 97 == i, 100 * (i + 1))
            for i in range(len(_MINOR_CRASH_POINTS))
        ]
        stage, policy = (
            ing.streaming_objects_ingest,
            ing.compact_staged_objects_if_needed,
        )

        def read():
            return sorted(
                tuple(r)
                for r in ing.objects_with_staged(spark, layout)
                .select(*objects.columns)
                .collect()
            )
    else:
        emb = t["embeddings"]
        n = len(_MINOR_CRASH_POINTS)
        sim.save_pq_index(emb.filter(F.col("vec_id") % 100 >= n), layout)
        deltas = [emb.filter(F.col("vec_id") % 100 == i) for i in range(n)]
        stage, policy = (
            ing.streaming_pq_index_ingest,
            ing.compact_staged_pq_if_needed,
        )

        def read():  # every code row the staged serve would score
            codes = sim.load_pq_index(spark, layout)[0]
            return sorted(tuple(r) for r in codes.collect())

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for crash_fn, delta in zip(_MINOR_CRASH_POINTS, deltas):
        _append_batch(delta, src)
        _run_stream(spark, stage, src, delta.schema, layout, ckpt)

        mp = _pt.MonkeyPatch()
        mp.setattr(ing, crash_fn, _boom)
        with _pt.raises(RuntimeError, match="injected crash"):
            policy(spark, layout, 1)
        mp.undo()
        torn = read()

        # recovery: at threshold 0 the policy folds whatever is still
        # live (minor), or with nothing live just finishes the cleanup
        policy(spark, layout, 0)
        assert read() == torn, f"torn staged read after a crash at {crash_fn}"
        assert staged_segment_keys(layout) == []
        assert run_path(read_current(layout)) is not None  # still minor

    if kind == "objects":
        state = _objects_state(objects)
        for delta in deltas:
            _apply_objects_delta(state, delta, objects.columns)
        assert read() == sorted(state.values())
    else:  # the base codes plus every delta encoded once
        tables = tables_root(read_current(layout))
        ref = sim.load_pq_index(spark, layout, tables)[0].unionByName(
            sim.pq_encode_delta(
                spark, emb.filter(F.col("vec_id") % 100 < n), tables
            ).select(*sim.PQ_CODES_SCHEMA.fieldNames())
        )
        assert read() == sorted(tuple(r) for r in ref.collect())


def test_tiered_fold_sequence(spark, tmp_path, caplog):
    """Five policy folds of the objects layout and the PQ index: the
    first three go minor (the run stays under MAJOR_FOLD_RUN_PERCENT of
    the base), the fourth's larger delta makes it major, and the fifth
    goes minor again, over the full generation the major wrote.  After
    every step the staged state and listing equal the reference state
    (the mutations applied in order on the driver, then listed), and
    the staged PQ top-k (and the plain loader's code rows) equal the
    one-pass frozen-codebook layout's; after each minor fold the full
    generation the thin one names survives ``gc_generations``; every
    decision is logged, the existing policy line unchanged."""
    import logging
    import os
    import shutil

    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import (
        gc_generations,
        read_current,
        run_path,
        tables_root,
    )
    from pithos_spark.operators.listing import list_objects

    t = T.load_tables(spark, SF_SMOKE)
    objects, emb = T.objects_df(t), t["embeddings"]
    ik, vid = F.col("inode").cast("long"), F.col("vec_id")
    o_layout, p_layout = str(tmp_path / "objects"), str(tmp_path / "pq")
    ing.save_objects_layout(objects, o_layout)
    sim.save_pq_index(emb.filter(vid < 380), p_layout)
    p_ref = str(tmp_path / "pq_ref")
    shutil.copytree(p_layout, p_ref)
    # three small deltas (~2% of each base), one that crosses 10%, and
    # one more small one
    o_deltas = [_objects_delta(objects, ik % 53 == i, 10 * (i + 1))
                for i in range(3)]
    o_deltas.append(_objects_delta(objects, ik % 7 == 5, 1000))
    o_deltas.append(_objects_delta(objects, ik % 53 == 3, 2000))
    p_deltas = [emb.filter((vid >= lo) & (vid < hi))
                for lo, hi in ((380, 390), (390, 400), (400, 410),
                               (410, 490), (490, 500))]
    majors = [False, False, False, True, False]

    state = _objects_state(objects)
    for step, (o_delta, p_delta) in enumerate(zip(o_deltas, p_deltas)):
        for layout, fn, delta in (
            (o_layout, ing.streaming_objects_ingest, o_delta),
            (p_layout, ing.streaming_pq_index_ingest, p_delta),
        ):
            src, ckpt = f"{layout}_src", f"{layout}_ckpt"
            _append_batch(delta, src)
            _run_stream(spark, fn, src, delta.schema, layout, ckpt)
        _apply_objects_delta(state, o_delta, objects.columns)
        sim.append_to_pq_index(p_delta, p_ref)

        caplog.clear()
        with caplog.at_level(logging.INFO, logger="pithos_spark"):
            assert ing.compact_staged_objects_if_needed(spark, o_layout, 1) > 0
            assert ing.compact_staged_pq_if_needed(spark, p_layout, 1) > 0
        msgs = [r.getMessage() for r in caplog.records]
        tier = [m for m in msgs if m.startswith("fold tier ")]
        assert [m.split(",")[0] for m in tier] == [
            f"fold tier {o_layout}: {'major' if majors[step] else 'minor'}",
            f"fold tier {p_layout}: {'major' if majors[step] else 'minor'}",
        ], msgs
        assert all(
            m.endswith(f"major at {ing.MAJOR_FOLD_RUN_PERCENT}%") for m in tier
        )
        assert any(
            m.startswith(f"fold policy {o_layout}: 1 live segments, "
                         "threshold 1: folded ")
            for m in msgs
        )

        for layout in (o_layout, p_layout):
            root = read_current(layout)
            if not majors[step]:  # thin: its full generation survives GC
                assert run_path(root) is not None
                gc_generations(layout)
                assert os.path.isdir(tables_root(root))
                assert tables_root(root) != root
            else:  # major: a full generation, alone on disk
                assert run_path(root) is None
                assert sorted(os.listdir(layout)) == [
                    "CURRENT", os.path.basename(root)
                ]

        got = ing.objects_with_staged(spark, o_layout).select(*objects.columns)
        assert sorted(tuple(r) for r in got.collect()) == sorted(
            state.values()
        ), step
        rebuilt = spark.createDataFrame(list(state.values()), objects.schema)
        assert [
            tuple(r)
            for r in ing.list_objects_with_staged(
                spark, o_layout, "NATION_2", "", None, None, 1000
            ).collect()
        ] == [
            tuple(r)
            for r in list_objects(
                rebuilt, "NATION_2", "", None, None, 1000
            ).collect()
        ], step
        want = [
            tuple(r)
            for r in sim.pq_topk_from_layout(emb, p_ref, 395, 10).collect()
        ]
        assert [
            tuple(r)
            for r in ing.pq_topk_with_staged(emb, p_layout, 395, 10).collect()
        ] == want, step
        # the plain loader serves a thin generation's base codes ∪ run
        assert sorted(
            tuple(r) for r in sim.load_pq_index(spark, p_layout)[0].collect()
        ) == sorted(
            tuple(r) for r in sim.load_pq_index(spark, p_ref)[0].collect()
        ), step


def test_appends_and_rebuild_over_thin_generation(spark, tmp_path):
    """A batch append after a minor fold stages a segment beside the
    thin generation (which it leaves untouched) and serves the
    one-pass answer, for the PQ index and the plain-IVF index; a
    rebuild (``finalize_rebuild``, every layout save's last step) over
    a thin generation leaves only generation 0."""
    import os
    import shutil

    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import (
        finalize_rebuild,
        read_current,
        run_path,
    )

    emb = T.load_tables(spark, SF_SMOKE)["embeddings"]
    pct = F.col("vec_id") % 100
    base, d1, d2 = emb.filter(pct >= 10), emb.filter(pct < 5), emb.filter(
        (pct >= 5) & (pct < 10)
    )
    ivf_assigned, ivf_centers = sim.build_ivf_lloyd_index(base, 4, 1)

    def ivf_save(rows, path):
        sim.save_ivf_index(ivf_assigned, ivf_centers, path)

    def ivf_read(path):
        a, c = sim.load_ivf_index(spark, path)
        return [
            tuple(r)
            for r in sim.ivf_query(a, c, 0, 10, 2, cluster_col="cluster",
                                   metric="l2").collect()
        ]

    def pq_read(path):
        return [
            tuple(r)
            for r in sim.pq_batch_topk_from_layout(emb, path, [0, 7], 10)
            .collect()
        ]

    for save, append, stage, policy, read in (
        (sim.save_pq_index, sim.append_to_pq_index,
         ing.streaming_pq_index_ingest, ing.compact_staged_pq_if_needed,
         pq_read),
        (ivf_save, sim.append_to_ivf_index, ing.streaming_ivf_ingest,
         ing.compact_staged_ivf_if_needed, ivf_read),
    ):
        layout, ref = str(tmp_path / "layout"), str(tmp_path / "ref")
        save(base, layout)
        shutil.copytree(layout, ref)
        _append_batch(d1, f"{layout}_src")
        _run_stream(spark, stage, f"{layout}_src", emb.schema, layout,
                    f"{layout}_ckpt")
        assert policy(spark, layout, 1) > 0
        thin = read_current(layout)
        assert run_path(thin) is not None  # the fold was minor
        append(d2, layout)
        assert sorted(os.listdir(thin)) == ["BASE", "folded_segments", "run"]
        for d in (d1, d2):
            append(d, ref)
        assert read(layout) == read(ref)

        # a rebuild's last step over the thin generation: generation 0
        # (whose tables the thin generation served) alone remains
        finalize_rebuild(layout)
        assert sorted(os.listdir(layout)) == sorted(
            n for n in os.listdir(ref) if not n.startswith("staged")
        )
        for p in (layout, ref, f"{layout}_src", f"{layout}_ckpt"):
            shutil.rmtree(p)


def test_minor_fold_job_counts(spark, tmp_path):
    """The minor fold's job budget and the run's read tax, for the
    objects and PQ layouts: a minor fold of two segments runs two jobs
    (one scan shuffled into one partition, the sorted run write), and
    with the run beside the base a staged read over two more segments
    runs exactly the jobs it runs over base + two segments
    (``test_staged_layout_job_counts``, ``_ANN_SERVE_JOBS``): the run
    joins the segments' one scan."""
    import pyspark.sql.functions as F

    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import similarity as sim
    from pithos_spark.functions.layoutcommit import read_current, run_path

    t = T.load_tables(spark, SF_SMOKE)
    objects, emb = T.objects_df(t), t["embeddings"]
    ik, pct = F.col("inode").cast("long"), F.col("vec_id") % 100
    o_layout, p_layout = str(tmp_path / "objects"), str(tmp_path / "pq")
    ing.save_objects_layout(objects, o_layout)
    sim.save_pq_index(emb.filter(pct >= 8), p_layout)
    cases = (
        (o_layout, ing.streaming_objects_ingest,
         ing.compact_staged_objects_if_needed,
         [_objects_delta(objects, ik % 89 == i, 7) for i in range(4)]),
        (p_layout, ing.streaming_pq_index_ingest,
         ing.compact_staged_pq_if_needed,
         [emb.filter(pct == i) for i in range(4)]),
    )
    for layout, stage, policy, deltas in cases:
        src, ckpt = f"{layout}_src", f"{layout}_ckpt"
        for delta in deltas[:2]:
            _append_batch(delta, src)
        _run_stream(spark, stage, src, deltas[0].schema, layout, ckpt)
        fold = _jobs_run(spark, lambda: policy(spark, layout, 2))
        assert run_path(read_current(layout)) is not None  # minor
        assert fold == 2, layout
        for delta in deltas[2:]:
            _append_batch(delta, src)
        _run_stream(spark, stage, src, deltas[0].schema, layout, ckpt)

    listing = {}
    define = _jobs_run(spark, lambda: listing.setdefault(
        "df", ing.list_objects_with_staged(spark, o_layout, "NATION_2", "", "/")
    ))
    read = _jobs_run(spark, lambda: listing["df"].collect())
    assert (define, read) == (0, 3)
    serves = (
        _jobs_run(spark, lambda: ing.pq_topk_with_staged(
            emb, p_layout, 2, 10).collect()),
        _jobs_run(spark, lambda: ing.pq_batch_topk_with_staged(
            emb, p_layout, [0, 2, 42], 10).collect()),
    )
    assert serves == _ANN_SERVE_JOBS["pq"][0]


def _rows(df) -> list:
    """A reader's answer as a list of plain tuples, in a fixed order."""
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _layout_readers(spark, kind, tmp_path):
    """(build the base, its staged ingest, its fold, every public
    reader) of one layout at the smoke scale: the base holds three
    quarters of the rows and the staged ingest streams the rest in as
    two segments.  Each reader maps the layout path to its answer."""
    import pithos_spark.streaming.ingest as ing
    from pithos_spark import tables as T
    from pithos_spark.functions import retrieval, text
    from pithos_spark.functions import similarity as sim
    from pithos_spark.plans.helpers import reset_persist_slots

    t = T.load_tables(spark, SF_SMOKE)
    emb, docs = t["embeddings"], t["documents"]
    if kind == "objects":
        base = T.objects_df(t)
        return (
            lambda p: ing.save_objects_layout(base, p),
            ing.streaming_objects_ingest,
            ing.compact_staged_objects,
            _object_mutations(base)[0],
            {
                "load_objects_layout": lambda p: ing.load_objects_layout(
                    spark, p
                ).select(*base.columns),
                "list_objects_from_layout": lambda p: (
                    ing.list_objects_from_layout(spark, p, "NATION_2", "", "/")
                ),
            },
        )
    base, delta = emb.filter("vec_id % 4 != 3"), emb.filter("vec_id % 4 = 3")
    label = emb.filter("vec_id = 7").first()["label"]  # 7 is streamed in
    if kind == "pq":
        return (
            lambda p: sim.save_pq_index(base, p),
            ing.streaming_pq_index_ingest,
            ing.compact_staged_pq,
            delta,
            {
                "pq_topk_from_layout": lambda p: sim.pq_topk_from_layout(
                    emb, p, 7, 10
                ),
                "pq_batch_topk_from_layout": lambda p: (
                    sim.pq_batch_topk_from_layout(emb, p, [0, 7, 42], 10)
                ),
                "pq_filtered_topk_from_layout": lambda p: (
                    sim.pq_filtered_topk_from_layout(emb, p, 0, label, 10)
                ),
                "pq_code_near_pairs_from_layout": lambda p: (
                    sim.pq_code_near_pairs_from_layout(emb, p)
                ),
                "pq_code_bucket_stats_from_layout": lambda p: (
                    sim.pq_code_bucket_stats_from_layout(spark, p)
                ),
                "pq_recall_report": lambda p: sim.pq_recall_report(
                    emb, p, [0, 7], 10
                ),
            },
        )
    if kind == "residual":
        return (
            lambda p: sim.save_ivfpq_residual_index(base, p),
            ing.streaming_ivfpq_residual_ingest,
            ing.compact_staged_ivfpq_residual,
            delta,
            {
                "ivfpq_residual_topk_from_layout": lambda p: (
                    sim.ivfpq_residual_topk_from_layout(emb, p, 7, 10)
                ),
                "ivfpq_residual_batch_topk_from_layout": lambda p: (
                    sim.ivfpq_residual_batch_topk_from_layout(
                        emb, p, [0, 7, 42], 10
                    )
                ),
                "ivfpq_residual_filtered_topk_from_layout": lambda p: (
                    sim.ivfpq_residual_filtered_topk_from_layout(
                        emb, p, 0, label, 10
                    )
                ),
            },
        )
    if kind == "ivf":
        return (
            lambda p: sim.save_ivf_index(
                *sim.build_ivf_lloyd_index(base, 8, 1), p
            ),
            ing.streaming_ivf_ingest,
            ing.compact_staged_ivf,
            delta,
            {
                "load_ivf_index": lambda p: sim.load_ivf_index(spark, p)[0]
                .select("vec_id", "label", "cluster"),
                "ivf_topk_from_layout": lambda p: sim.ivf_topk_from_layout(
                    spark, p, 7, 10
                ),
                "semantic_dedup_pairs_from_layout": lambda p: (
                    sim.semantic_dedup_pairs_from_layout(spark, p)
                ),
            },
        )
    if kind == "postings":
        return (
            lambda p: retrieval.write_postings_layout(
                docs.filter("doc_id % 4 != 3"), p
            ),
            ing.streaming_postings_ingest,
            ing.compact_staged_postings,
            docs.filter("doc_id % 4 = 3"),
            {
                "bm25_topk_from_postings": lambda p: (
                    retrieval.bm25_topk_from_postings(spark, p)
                ),
            },
        )
    score, lm = docs.filter("doc_id % 4 != 0"), docs.filter("doc_id % 4 = 0")

    def fresh(reader):
        def read(p):
            reset_persist_slots()
            return reader(p)

        return read

    return (
        lambda p: text.write_trigram_lm_layout(
            lm.filter("doc_id % 16 != 0"), p
        ),
        ing.streaming_trigram_ingest,
        ing.compact_staged_trigram,
        lm.filter("doc_id % 16 = 0"),
        {
            "trigram_heldout_from_layout": fresh(
                lambda p: text.trigram_heldout_from_layout(score, p)
            ),
            "trigram_probe_from_layout": fresh(
                lambda p: text.trigram_probe_from_layout(
                    score.filter("doc_id % 8 = 1"), p
                )
            ),
            # the gram vocabulary of the occupancy report; the partial
            # rows per gram are what a fold collapses (checked below)
            "trigram_segment_stats": lambda p: text.trigram_segment_stats(
                spark, p
            ).select("gram_table", "n_keys"),
        },
    )


@pytest.mark.parametrize(
    "kind", ["objects", "pq", "residual", "ivf", "postings", "trigram"]
)
def test_every_reader_serves_live_segments(spark, tmp_path, kind):
    """Staged segments are part of the layout: with two segments
    streamed in, every public reader of the layout answers exactly as
    it does after ``compact_staged_*`` folds them — the fold is file
    hygiene, never a change of answer.  (A reader that served the base
    alone returned the streamed rows only after the fold.)"""
    from pithos_spark.functions import text
    from pithos_spark.functions.layoutcommit import staged_segment_keys

    build, ingest, fold, delta, readers = _layout_readers(
        spark, kind, tmp_path
    )
    layout = str(tmp_path / kind)
    build(layout)
    src = str(tmp_path / "src")
    delta.repartition(2).write.parquet(src)
    _run_stream(
        spark, ingest, src, delta.schema, layout, str(tmp_path / "ckpt")
    )
    assert len(staged_segment_keys(layout)) == 2
    staged = {name: _rows(read(layout)) for name, read in readers.items()}
    if kind == "trigram":
        occupancy = _rows(text.trigram_segment_stats(spark, layout))
        assert any(r[-1] > 1000 for r in occupancy), occupancy
    assert fold(spark, layout) > 0
    assert staged_segment_keys(layout) == []
    for name, read in readers.items():
        assert staged[name], name
        assert _rows(read(layout)) == staged[name], name
    if kind == "trigram":
        occupancy = _rows(text.trigram_segment_stats(spark, layout))
        assert all(r[-1] == 1000 for r in occupancy), occupancy
