"""Streaming-vs-batch equivalence (SURVEY §5.3): each streaming operator run in
availableNow mode over a bounded source must equal its declared batch oracle
form — the reference's run-once pattern (A21) elevated to a harness."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_in_action_spark.operators import (
    event_time, joins as bjoins, relational)
from kafka_streams_in_action_spark.plans.oracle import canonical
from kafka_streams_in_action_spark.sources.parquet import _EVENTS_RAW, load_table
from kafka_streams_in_action_spark.streaming import pipelines, stateful
from kafka_streams_in_action_spark.streaming import joins as sjoins

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Bounded streaming source: the events table as a parquet directory."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, "events", SF_DIR).write.mode("overwrite").parquet(d)
    return d


def _read_stream(spark, events_dir):
    return (
        spark.readStream.schema(
            load_table(spark, "events", SF_DIR).schema)
        .parquet(events_dir)
    )


def _run_to_memory(spark, sdf, name, output_mode="append"):
    q = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _assert_same(batch_df, stream_df):
    b_cols = batch_df.columns
    s_cols = stream_df.columns
    assert sorted(b_cols) == sorted(s_cols)
    b = canonical([tuple(r) for r in batch_df.collect()], b_cols)
    s = canonical([tuple(r) for r in stream_df.collect()], s_cols)
    assert b == s


@pytest.mark.parametrize("op_name,batch_fn,stream_fn,mode", [
    ("tumbling", event_time.tumbling_counts, stateful.tumbling_counts_stream,
     "complete"),
    ("sliding", event_time.sliding_counts, stateful.sliding_counts_stream,
     "complete"),
    ("session", event_time.session_counts, stateful.session_counts_stream,
     "complete"),
])
def test_windowed_agg_stream_equals_batch(spark, events_dir, op_name,
                                          batch_fn, stream_fn, mode):
    batch = batch_fn(load_table(spark, "events", SF_DIR))
    stream = stream_fn(_read_stream(spark, events_dir))
    out = _run_to_memory(spark, stream, f"stream_{op_name}", mode)
    _assert_same(batch, out)


def test_dedup_stream_keeps_one_per_key(spark, events_dir):
    """dropDuplicatesWithinWatermark keeps the *first-arriving* record per key
    (arrival order ≠ event time), so equivalence is on the key set, not rows."""
    stream = stateful.dedup_stream(_read_stream(spark, events_dir))
    out = _run_to_memory(spark, stream, "stream_dedup")
    batch = event_time.dedup_first_event(load_table(spark, "events", SF_DIR))
    b_keys = {(r["user_id"], r["event_type"]) for r in batch.collect()}
    s_rows = out.collect()
    s_keys = {(r["user_id"], r["event_type"]) for r in s_rows}
    assert s_keys == b_keys
    assert len(s_rows) == len(s_keys)  # exactly one survivor per key


def test_running_state_stream_final_state_matches_batch(spark, events_dir):
    """C27: applyInPandasWithState running totals — final per-user state equals
    the last row of the batch running aggregation."""
    stream = stateful.running_user_state_stream(_read_stream(spark, events_dir))
    out = _run_to_memory(spark, stream, "stream_state", "update")
    # final state per user = max batch-id row; with availableNow single batch,
    # just take the last emitted row per user
    final = {r["user_id"]: (r["running_n"], r["running_sum"])
             for r in out.collect()}
    batch = event_time.running_user_state(load_table(spark, "events", SF_DIR))
    last = (
        batch.groupBy("user_id")
        .agg(F.max("running_n").alias("n"))
        .collect()
    )
    batch_n = {r["user_id"]: r["n"] for r in last}
    assert {u: v[0] for u, v in final.items()} == batch_n


def test_funnel_stream_stages_match_batch(spark, events_dir):
    """C34 streaming twin: final per-user funnel stage from the keyed state
    machine equals the batch funnel's stage membership (availableNow replay
    of the time-ordered log — the equivalence the operator contract
    declares)."""
    stream = stateful.funnel_state_stream(_read_stream(spark, events_dir))
    out = _run_to_memory(spark, stream, "stream_funnel", "update")
    # last emitted row per user = final state
    s_stage = {r["user_id"]: r["stage"] for r in out.collect()}
    ev = load_table(spark, "events", SF_DIR)
    per_user = (ev.groupBy("user_id")
                .agg(F.min(F.when(F.col("event_type") == "view",
                                  F.col("ts"))).alias("t_view")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .join(per_user, "user_id")
              .filter(F.col("ts") > F.col("t_view"))
              .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    buys = (ev.filter(F.col("event_type") == "purchase")
            .join(clicks, "user_id")
            .filter(F.col("ts") > F.col("t_click"))
            .groupBy("user_id").agg(F.min("ts").alias("t_buy")))
    viewers = {r["user_id"] for r in
               per_user.filter(F.col("t_view").isNotNull()).collect()}
    clickers = {r["user_id"] for r in clicks.collect()}
    buyers = {r["user_id"] for r in buys.collect()}
    b_stage = {u: (3 if u in buyers else 2 if u in clickers else 1)
               for u in viewers}
    for u in set(s_stage) - set(b_stage):
        assert s_stage[u] == 0, (u, s_stage[u])
    assert {u: s for u, s in s_stage.items() if s > 0} == b_stage


def test_stream_static_join_equals_batch(spark, events_dir):
    """C6 streaming form: stream-static enrichment == the batch join."""
    customer = load_table(spark, "customer", SF_DIR)
    stream = sjoins.stream_static_enrich(
        _read_stream(spark, events_dir), customer)
    out = _run_to_memory(spark, stream, "stream_enrich")
    batch = sjoins.stream_static_enrich(
        load_table(spark, "events", SF_DIR), customer)
    _assert_same(batch, out)


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    """C9 streaming form: watermarked two-stream interval join over a bounded
    source == the batch interval self-join's pair set."""
    s = sjoins.stream_stream_interval_join(
        _read_stream(spark, events_dir), _read_stream(spark, events_dir))
    out = _run_to_memory(spark, s, "stream_ssj")
    batch_pairs = sjoins.stream_stream_interval_join(
        load_table(spark, "events", SF_DIR).alias("l"),
        load_table(spark, "events", SF_DIR).alias("r"))
    _assert_same(batch_pairs, out)
    # and the aggregated pair counts reproduce the declared C9 batch oracle
    agg = out.groupBy("event_id").count()
    oracle = bjoins.range_join_followups(load_table(spark, "events", SF_DIR))
    got = {r["event_id"]: r["count"] for r in agg.collect()}
    want = {r["event_id"]: r["n_followups"] for r in oracle.collect()}
    assert got == want


def test_stream_stream_outer_join_emits_on_eviction(spark, events_dir):
    """C8 streaming form: left-outer two-stream join. Matched pairs emit
    immediately; an unmatched left emits (event_id, null) only when the
    watermark passes ts + interval (state eviction). availableNow runs a
    final no-data batch that advances the watermark to max(ts) - delay and
    flushes evictable state — so expected output = batch inner pairs ∪
    unmatched lefts older than wm - interval, computed from the query's own
    reported watermark."""
    from datetime import datetime, timedelta

    s = sjoins.stream_stream_left_outer_join(
        _read_stream(spark, events_dir), _read_stream(spark, events_dir))
    q = (s.writeStream.format("memory").queryName("stream_oj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    wm = datetime.strptime(q.lastProgress["eventTime"]["watermark"],
                           "%Y-%m-%dT%H:%M:%S.%fZ")
    out = spark.table("stream_oj")

    ev = load_table(spark, "events", SF_DIR)
    inner = sjoins.stream_stream_interval_join(ev.alias("l"), ev.alias("r"))
    matched = {(r["event_id"], r["followup_id"]) for r in inner.collect()}
    evictable = wm - timedelta(minutes=5)
    unmatched_old = {
        (r["event_id"], None)
        for r in ev.join(inner.select("event_id").distinct(), "event_id",
                         "left_anti")
        .filter(F.col("ts") < F.lit(evictable)).collect()
    }
    got = {(r["event_id"], r["followup_id"]) for r in out.collect()}
    assert got == matched | unmatched_old
    assert len(got) > len(matched)  # outer emission actually happened


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """C25 with real lateness across micro-batches (maxFilesPerTrigger=1).

    Empirical Spark 4.1 semantics (probed): the stateful operator filters
    with the watermark as of the *previous* batch boundary, one batch behind
    what query progress reports — so the late row is staged two batches
    after the watermark-establishing event and must be dropped
    (numRowsDroppedByWatermark=1, its window never emitted)."""
    from datetime import datetime, timedelta
    d = str(tmp_path / "late_in")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    base = datetime(2024, 1, 1, 10, 0, 0)
    late_ts = base - timedelta(hours=1)          # older than wm = 12:00 - 10min
    rowsets = [
        [(1, base, 1, "a", 1.0, "{}"),
         (2, base + timedelta(hours=2), 1, "a", 1.0, "{}")],   # sets wm 11:50
        [(3, base + timedelta(hours=2, minutes=1), 1, "a", 1.0, "{}")],
        [(4, late_ts, 1, "a", 100.0, "{}")],                   # must drop
    ]
    import glob
    import os
    import shutil
    import time as _time
    os.makedirs(d + "/in")
    # FileStreamSource orders batches by modification time — pin it
    now = _time.time()
    for bi, rows in enumerate(rowsets):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d + f"/f{bi}")
        for i, f in enumerate(sorted(glob.glob(d + f"/f{bi}/*.parquet"))):
            p = d + f"/in/x{bi}_{i}.parquet"
            shutil.copy(f, p)
            os.utime(p, (now - 60 + bi * 20, now - 60 + bi * 20))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/in")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .select(F.col("w.start").alias("ws"), "n", "sv")
    )
    # update mode: watermark actively drops late input (complete mode never
    # does — it keeps all windows alive by design)
    q = (agg.writeStream.format("memory").queryName("late_agg")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "late_ck")).start())
    q.awaitTermination(120)
    emitted = spark.table("late_agg").collect()
    windows = {r["ws"] for r in emitted}
    # late event (value=100, 09:00 window) must never appear; every emitted
    # update excludes its contribution
    assert all(r["sv"] < 100 for r in emitted), emitted
    assert datetime(2024, 1, 1, 9, 0, 0) not in windows
    assert len(windows) == 2  # 10:00 and 12:00 windows only
    dropped = sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress if p.get("stateOperators"))
    assert dropped == 1


def test_running_state_tws_matches_batch(spark, events_dir):
    """C27 via the Spark 4 transformWithStateInPandas API — same contract as
    the applyInPandasWithState twin. The TWS state protocol needs the
    `protobuf` python package (not shipped in this container), so this runs
    wherever that dependency exists and documents the forward path here."""
    pytest.importorskip("google.protobuf")
    stream = stateful.running_user_state_tws(_read_stream(spark, events_dir))
    out = _run_to_memory(spark, stream, "stream_state_tws", "update")
    final = {r["user_id"]: r["running_n"] for r in out.collect()}
    batch = event_time.running_user_state(load_table(spark, "events", SF_DIR))
    batch_n = {r["user_id"]: r["n"] for r in
               batch.groupBy("user_id").agg(F.max("running_n").alias("n")).collect()}
    assert final == batch_n


def test_foreachbatch_topk_per_microbatch(spark, events_dir):
    """C11/C13 streaming caveat made concrete: ranking/top-k don't exist in
    pure streaming — the declared path is foreachBatch, computing the
    batch-form top-k per micro-batch. With availableNow over a bounded
    source the (single) micro-batch result equals the batch query."""
    from pyspark.sql import Window

    def topk(df, k=5):
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), F.col("event_id"))
        return (df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k)
                .select("event_type", "event_id", "value", "rn"))

    got = []

    def sink(batch_df, batch_id):
        got.extend(topk(batch_df).collect())

    q = (_read_stream(spark, events_dir).writeStream.foreachBatch(sink)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    want = topk(load_table(spark, "events", SF_DIR)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_sales_pipeline_end_to_end(spark, tmp_path):
    """§3.1 smoke (t1): produce (rate → JSON → FNV partition → parquet topic)
    then consume (decode → total) — the reference's hello-world lifecycle."""
    out = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")
    q = pipelines.sales_produce(spark, out, ckpt, rows_per_batch=10)
    q.awaitTermination(120)
    result = pipelines.sales_consume(spark, out)
    rows = result.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["total"] is not None and r["total"] > 0
        assert 0 <= r["partition"] < 8
        assert r["record_key"]


def test_pipelining_lifecycle_commits_offsets(spark, tmp_path, events_dir):
    """§3.2 smoke: micro-batched processing emits per-key commit offsets =
    max(offset)+1 (A16), exactly once per key across batches."""
    out = str(tmp_path / "commits")
    ckpt = str(tmp_path / "ckpt2")
    q = pipelines.pipelining_run(spark, events_dir, out, ckpt)
    q.awaitTermination(120)
    commits = spark.read.parquet(out)
    batch = load_table(spark, "events", SF_DIR).groupBy("user_id").agg(
        (F.max("event_id") + 1).alias("commit_offset"))
    expect = {r["user_id"]: r["commit_offset"] for r in batch.collect()}
    # last commit per user must equal the batch answer
    got = {r["user_id"]: r["commit_offset"]
           for r in commits.orderBy("commit_offset").collect()}
    assert got == expect


def test_asof_enrich_stream_equals_batch(spark, events_dir, tmp_path):
    """C10 streaming column: the keyed latest-state as-of enrichment over
    bounded sources (availableNow, one batch) must equal the batch as-of
    join — including null matches for events with no prior order."""
    orders_dir = str(tmp_path / "orders_stream")
    orders = load_table(spark, "orders", SF_DIR)
    orders.write.mode("overwrite").parquet(orders_dir)

    s = stateful.asof_enrich_stream(
        _read_stream(spark, events_dir),
        spark.readStream.schema(orders.schema).parquet(orders_dir))
    out = _run_to_memory(spark, s, "stream_asof", output_mode="update")

    batch = bjoins.asof_join_latest_order(
        load_table(spark, "events", SF_DIR), orders)
    _assert_same(batch, out)


def test_checkpoint_restart_resumes_without_reprocessing(spark, tmp_path):
    """A17 progress durability: a second run against the same checkpoint must
    process only files that arrived after the first run — every input row is
    counted exactly once across both runs (the reference's process-then-
    commit MarkOffset semantics, upgraded to effectively-once by the offset
    WAL + idempotent-append sink)."""
    in_dir = str(tmp_path / "topic")
    out_dir = str(tmp_path / "commits")
    cp = str(tmp_path / "cp")
    events = load_table(spark, "events", SF_DIR)
    first = events.filter(F.col("event_id") < 500)
    second = events.filter((F.col("event_id") >= 500)
                           & (F.col("event_id") < 800))
    n_first, n_second = first.count(), second.count()

    first.write.mode("overwrite").parquet(in_dir)
    q1 = pipelines.pipelining_run(spark, in_dir, out_dir, cp)
    q1.awaitTermination(120)
    got_first = spark.read.parquet(out_dir).agg(
        F.sum("n_records")).collect()[0][0]
    assert got_first == n_first

    second.write.mode("append").parquet(in_dir)
    q2 = pipelines.pipelining_run(spark, in_dir, out_dir, cp)
    q2.awaitTermination(120)
    total = spark.read.parquet(out_dir).agg(
        F.sum("n_records")).collect()[0][0]
    # exactly once across the restart: nothing lost, nothing re-counted
    assert total == n_first + n_second


def test_multi_event_fanout(spark, tmp_path, events_dir):
    """A19 smoke: mixed-type stream fans out to per-type partitions."""
    out = str(tmp_path / "fanout")
    ckpt = str(tmp_path / "ckpt3")
    q = pipelines.multi_event_run(spark, events_dir, out, ckpt)
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    batch = load_table(spark, "events", SF_DIR)
    assert written.count() == batch.count()
    types_on_disk = {d for d in os.listdir(out) if d.startswith("event_type=")}
    expect_types = {f"event_type={r['event_type']}"
                    for r in batch.select("event_type").distinct().collect()}
    assert types_on_disk == expect_types


def test_curation_ingest_dedups_across_batches_and_restarts(spark, tmp_path):
    """Composed streaming curation (C28+C30 on the §3.2 lifecycle): docs
    arriving across micro-batches AND across a restart are exact-deduped
    via the sink's hash index, quality-filtered, and never ingested twice —
    including re-sent duplicates of already-ingested texts."""
    in_dir = str(tmp_path / "arrivals")
    out_dir = str(tmp_path / "curated")
    cp = str(tmp_path / "cp")
    docs = load_table(spark, "documents", SF_DIR)

    first = docs.filter(F.col("doc_id") < 30)
    # second wave: new docs PLUS re-sends of first-wave texts (new doc_ids,
    # same text → must be dropped by the cross-batch hash anti-join)
    resend = (docs.filter(F.col("doc_id") < 10)
              .withColumn("doc_id", F.col("doc_id") + 1000))
    second = docs.filter((F.col("doc_id") >= 30)
                         & (F.col("doc_id") < 50)).union(resend)

    first.write.mode("overwrite").parquet(in_dir)
    q1 = pipelines.curation_ingest(spark, in_dir, out_dir, cp)
    q1.awaitTermination(120)
    got1 = spark.read.parquet(f"{out_dir}/data")
    # every ingested doc is a first-wave keeper passing the quality floor
    expected1 = _expected_curated(spark, first)
    assert sorted(r.doc_id for r in got1.select("doc_id").collect()) \
        == sorted(r.doc_id for r in expected1.collect())

    second.write.mode("append").parquet(in_dir)
    q2 = pipelines.curation_ingest(spark, in_dir, out_dir, cp)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(f"{out_dir}/data")
    ids = [r.doc_id for r in got2.select("doc_id").collect()]
    # no doc ingested twice, no re-sent text re-ingested
    assert len(ids) == len(set(ids))
    assert not any(i >= 1000 for i in ids), "re-sent duplicate text ingested"
    expected_all = _expected_curated(spark, first.union(
        docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 50))))
    assert sorted(ids) == sorted(r.doc_id for r in expected_all.collect())


def _expected_curated(spark, documents):
    """Batch twin of curation_ingest's keep-set: exact dedup (min doc_id per
    md5) then the same quality floor."""
    hashed = documents.withColumn("text_hash", F.md5("text"))
    keep = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    kept = hashed.join(keep, ["text_hash", "doc_id"], "left_semi")
    words = F.split(F.trim("text"), " ")
    n_tokens = F.size(words)
    diversity = F.size(F.array_distinct(words)).cast("double") / n_tokens
    length_score = F.least(n_tokens.cast("double") / F.lit(200.0), F.lit(1.0))
    return (kept
            .withColumn("quality", F.round((diversity + length_score) / 2, 6))
            .filter(F.col("quality") >= 0.38)
            .select("doc_id"))


def test_attribution_join_stream_equals_batch(spark, events_dir):
    """C36: the typed click→purchase attribution join over a bounded
    stream == the same predicate evaluated in batch, including exact
    microsecond lags."""
    s = sjoins.click_purchase_attribution_stream(
        _read_stream(spark, events_dir))
    out = _run_to_memory(spark, s, "stream_attr")
    ev = load_table(spark, "events", SF_DIR)
    c = ev.filter(F.col("event_type") == "click").alias("c")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    batch = (
        c.join(p, (F.col("c.user_id") == F.col("p.user_id"))
               & (F.col("p.ts") > F.col("c.ts"))
               & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")))
        .select(F.col("c.user_id").alias("user_id"),
                F.col("c.event_id").alias("click_id"),
                F.col("p.event_id").alias("purchase_id"),
                (F.unix_micros("p.ts") - F.unix_micros("c.ts"))
                .alias("lag_us")))
    _assert_same(batch, out)


def test_mv_maintenance_invariant_to_batch_split(spark, tmp_path):
    """C35 streaming twin: the materialized view must be bit-identical
    whether the log replays as one micro-batch or four (dsum fixed-point
    state is order-insensitive), and must equal the plain batch GROUP BY."""
    ev = load_table(spark, "events", SF_DIR).select("user_id", "value")
    from kafka_streams_in_action_spark.operators.exact import dsum

    batch = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))

    results = []
    for n_files, tag in [(1, "one"), (4, "four")]:
        base = tmp_path / f"mv_{tag}"
        ev.repartition(n_files).write.mode("overwrite") \
            .parquet(str(base / "src"))
        got = pipelines.user_activity_mv(
            spark, str(base / "src"), ev.schema,
            str(base / "out"), str(base / "ckpt"))
        results.append(got)
        _assert_same(batch, got)
    _assert_same(results[0], results[1])


def test_interval_join_state_is_bounded_by_horizon(spark, tmp_path):
    """C36 state-GC evidence: with the events log split into many
    micro-batches (maxFilesPerTrigger=1 over time-ordered files), the
    interval join's state store must hold ~horizon × arrival-rate rows at
    any moment — NOT the whole history. This is the property that lets
    the join run forever at 100 TB/day: the final-batch state row count
    stays a small fraction of total input, because every batch's
    watermark advance evicts the rows older than (wm − horizon)."""
    from pyspark.sql import Window

    ev = (load_table(spark, "events", SF_DIR)
          .select("event_id", "user_id", "event_type", "ts")
          .orderBy("ts"))
    n_total = ev.count()
    src = str(tmp_path / "src")
    # 8 time-ordered files → 8 real micro-batches, watermark advances 7×
    ev.withColumn("b", F.ntile(8).over(Window.orderBy("ts")))\
      .repartition(1).sortWithinPartitions("ts")\
      .write.partitionBy("b").mode("overwrite").parquet(src)
    stream = (spark.readStream
              .schema("event_id long, user_id long, event_type string, "
                      "ts timestamp, b int")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/b=*"))
    from kafka_streams_in_action_spark.streaming.joins import (
        click_purchase_attribution_stream)
    q = (click_purchase_attribution_stream(
            stream.drop("b"), horizon="1 hour")
         .writeStream.format("memory").queryName("state_bound_probe")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    prog = q.lastProgress
    state_rows = sum(op["numRowsTotal"] for op in prog["stateOperators"])
    # clicks+purchases ≈ 40% of events over 30 days; 1h horizon ⇒ the
    # buffered tail is ≲ a couple of batch spans, far below the full log
    assert state_rows < 0.25 * n_total, (state_rows, n_total)
    assert state_rows > 0


def test_outer_attribution_eviction_boundary_is_strict(spark, tmp_path):
    """C36b eviction-inequality pin (r5 advice item 5): a click whose
    click_ts + horizon == watermark is NOT evicted — Spark's outer-join
    state flush removes only strictly-older rows — while a click 1 ms
    older IS evicted with a NULL row. This is exactly the strict '<' the
    c36_outer_join oracle replays; if a Spark upgrade ever flips the
    boundary to '<=', this test fails before the driver mismatch does."""
    t_ms = 1_704_110_400_000  # 2024-01-01 12:00:00 UTC, whole seconds
    h_ms = 3_600_000          # 1 hour horizon
    wm_ms = t_ms - h_ms       # floor_ms(min per-side max ts) − delay
    rows = [
        # anchors pin both per-side max event times to T; the anchor
        # click stays young+unmatched (p_ts > c_ts is strict)
        (1, 999, "click", t_ms),
        (2, 999, "purchase", t_ms),
        # boundary: c_ms + horizon == wm exactly → buffered, no NULL row
        (3, 1, "click", wm_ms - h_ms),
        # 1 ms older → c_ms + horizon < wm → evicted, NULL row
        (4, 2, "click", wm_ms - h_ms - 1),
    ]
    src = str(tmp_path / "src")
    (spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ms long")
        .select("event_id", "user_id", "event_type",
                F.timestamp_millis("ms").alias("ts"))
        .coalesce(1).write.parquet(src))
    out = _run_to_memory(
        spark,
        sjoins.click_attribution_outer_stream(
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, "
                "ts timestamp").parquet(src)),
        "outer_boundary")
    nulls = {r["click_id"] for r in
             out.filter(F.col("purchase_id").isNull()).collect()}
    assert 4 in nulls, nulls      # strictly past the boundary: evicted
    assert 3 not in nulls, nulls  # exactly at the boundary: buffered
    assert 1 not in nulls, nulls  # young unmatched click: buffered


@pytest.mark.parametrize("wm,interval_min,tag", [
    ("12 hours", 5, "delay_gg_interval"),   # lateness tolerance ≫ range
    ("5 minutes", 120, "interval_gg_delay"),  # range ≫ lateness tolerance
])
def test_interval_join_asymmetric_watermark_configs(spark, tmp_path, wm,
                                                    interval_min, tag):
    """C9/C36 sensitivity (r5 verdict item 8): the interval join's two
    time knobs — watermark delay (lateness tolerance) and the join range
    horizon — need not be equal. Under BOTH asymmetric extremes, with an
    in-order multi-batch replay: (1) the inner-join output is exactly the
    batch answer (watermarks bound state GC, never filter inner output),
    and (2) the final state-store row count stays a small fraction of the
    log — bounded by ~max(delay, range) × arrival rate, never the whole
    history."""
    from pyspark.sql import Window

    ev = (load_table(spark, "events", SF_DIR)
          .select("event_id", "user_id", "event_type", "ts")
          .orderBy("ts"))
    n_total = ev.count()
    src = str(tmp_path / f"src_{tag}")
    ev.withColumn("b", F.ntile(8).over(Window.orderBy("ts")))\
      .repartition(1).sortWithinPartitions("ts")\
      .write.partitionBy("b").mode("overwrite").parquet(src)
    stream = (spark.readStream
              .schema("event_id long, user_id long, event_type string, "
                      "ts timestamp, b int")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/b=*").drop("b"))
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    q = (sjoins.stream_stream_interval_join(
            clicks, purchases, watermark=wm, interval_minutes=interval_min)
         .writeStream.format("memory").queryName(f"asym_{tag}")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    state_rows = sum(op["numRowsTotal"]
                     for op in q.lastProgress["stateOperators"])

    bc = ev.filter(F.col("event_type") == "click").alias("l")
    bp = ev.filter(F.col("event_type") == "purchase").alias("r")
    batch = (bc.join(bp, (F.col("l.user_id") == F.col("r.user_id"))
                     & (F.col("r.ts") > F.col("l.ts"))
                     & (F.col("r.ts") <= F.col("l.ts")
                        + F.expr(f"INTERVAL {interval_min} MINUTES")))
             .select(F.col("l.event_id").alias("event_id"),
                     F.col("r.event_id").alias("followup_id")))
    _assert_same(batch, spark.table(f"asym_{tag}"))
    assert 0 < state_rows < 0.25 * n_total, (tag, state_rows, n_total)


def test_cms_stream_grid_equals_batch_grid(spark, tmp_path):
    """C4c streaming twin: the sketch maintained as sum-of-per-batch
    delta grids must be BIT-identical to the grid a batch build computes
    over the whole log — CMS mergeability through a real 4-micro-batch
    incremental-maintenance topology (and the reason the driver row can
    reuse c4_cms_topk's batch oracle verbatim)."""
    from kafka_streams_in_action_spark.operators.relational import (
        cms_grid, doc_words)

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)
    streamed = pipelines.cms_stream_mv(
        spark, src, "doc_id long, text string",
        str(tmp_path / "grids"), str(tmp_path / "ckpt"))
    batch = cms_grid(doc_words(docs))
    s = {(r["row"], r["cell"]): r["n"] for r in streamed.collect()}
    b = {(r["row"], r["cell"]): r["n"] for r in batch.collect()}
    assert s == b
    assert len(s) > 100


def test_cep_stream_matches_batch(spark, events_dir):
    """C34g streaming twin: the negation-CEP state machine over
    applyInPandasWithState equals the batch window-carry form row-for-row
    under availableNow replay of the time-ordered log — including the
    negation (a single intervening error flips converted to False)."""
    stream = stateful.cep_conversion_stream(_read_stream(spark, events_dir))
    out = _run_to_memory(spark, stream, "stream_cep", "append")
    batch = event_time.cep_conversion(load_table(spark, "events", SF_DIR))
    _assert_same(batch, out)


def test_scd2_stream_matches_batch_across_four_batches(spark, tmp_path):
    """C35c streaming twin: change capture through a REAL 4-batch
    time-split (maxFilesPerTrigger=1 over time-ordered files) + read-side
    stitching equals the batch SCD2 history row-for-row — the cross-batch
    state carry (last attr + version counter per user) is what's under
    test, so a single-batch pass would prove nothing."""
    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "scd2_stream_src")
    # four time-ordered files: ntile(4) over ts so each batch is a time slice
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    for s in range(1, 5):
        (sliced.filter(F.col("slice") == s).drop("slice")
         .coalesce(1).write.mode("append").parquet(d))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    changes = stateful.scd2_changes_stream(stream)
    out = _run_to_memory(spark, changes, "scd2_changes", "append")
    stitched = stateful.stitch_versions(out)
    batch = relational.scd2_history(ev)
    _assert_same(batch, stitched)


def test_cep_stream_matches_batch_across_four_batches(spark, tmp_path):
    """C34g under a REAL 4-batch time split: the (sig_ts, sig_ce, ce)
    carry must survive micro-batch boundaries — the regression test for
    the GroupState.get property bug (calling it as a method only crashed
    on the SECOND batch, which no single-batch availableNow test ever
    reached)."""
    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "cep_stream_src")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    for s in range(1, 5):
        (sliced.filter(F.col("slice") == s).drop("slice")
         .coalesce(1).write.mode("append").parquet(d))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    out = _run_to_memory(
        spark, stateful.cep_conversion_stream(stream), "cep4", "append")
    _assert_same(event_time.cep_conversion(ev), out)


def test_running_state_across_four_batches(spark, tmp_path):
    """C27 under a REAL 4-batch split: the (n, total) carry accumulates
    across micro-batches — final per-user counts equal the batch log."""
    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "running_src")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    for s in range(1, 5):
        (sliced.filter(F.col("slice") == s).drop("slice")
         .coalesce(1).write.mode("append").parquet(d))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    out = _run_to_memory(
        spark, stateful.running_user_state_stream(stream), "run4", "update")
    # final state per user = the row from the LAST batch that touched it;
    # running_n is monotone, so max() picks it without batch bookkeeping
    final = (out.groupBy("user_id")
             .agg(F.max("running_n").alias("running_n")))
    batch = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("running_n")))
    _assert_same(batch, final)


def test_asof_stream_across_four_batches(spark, tmp_path):
    """C10 streaming enrichment under a REAL 4-batch split of BOTH
    sources, sliced by the same explicit time cuts so joint time order
    survives the batching: order state learned in early batches must
    enrich events arriving in later ones."""
    ev = load_table(spark, "events", SF_DIR)
    od = load_table(spark, "orders", SF_DIR)
    cuts = ev.select(F.expr(
        "percentile(unix_micros(ts), array(0.25D, 0.5D, 0.75D))")) \
        .collect()[0][0]

    def slice_of(tcol):
        return (F.when(tcol < F.lit(int(cuts[0])), 1)
                .when(tcol < F.lit(int(cuts[1])), 2)
                .when(tcol < F.lit(int(cuts[2])), 3).otherwise(4))

    ev_dir = str(tmp_path / "ev4")
    od_dir = str(tmp_path / "od4")
    evs = ev.withColumn("slice", slice_of(F.unix_micros("ts")))
    ods = od.withColumn("slice", slice_of(F.unix_micros("o_orderdate")))
    for s in range(1, 5):
        (evs.filter(F.col("slice") == s).drop("slice")
         .coalesce(1).write.mode("append").parquet(ev_dir))
        (ods.filter(F.col("slice") == s).drop("slice")
         .coalesce(1).write.mode("append").parquet(od_dir))
    s_ev = (spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(ev_dir))
    s_od = (spark.readStream.schema(od.schema)
            .option("maxFilesPerTrigger", 1).parquet(od_dir))
    out = _run_to_memory(
        spark, stateful.asof_enrich_stream(s_ev, s_od), "asof4", "update")
    _assert_same(bjoins.asof_join_latest_order(ev, od), out)


def test_scd2_stream_checkpoint_restart_carries_state(spark, tmp_path):
    """A17 durability for ARBITRARY state: stop the SCD2 change-capture
    stream mid-log, then restart from the same checkpoint with new files
    — the (last attr, version counter) state must round-trip the state
    store, so the combined output still stitches into the exact batch
    history (no re-emitted versions, no counter reset)."""
    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "scd2_cp_src")
    cp = str(tmp_path / "scd2_cp")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))

    def write_slices(lo, hi):
        for s in range(lo, hi + 1):
            (sliced.filter(F.col("slice") == s).drop("slice")
             .coalesce(1).write.mode("append").parquet(d))

    sink = str(tmp_path / "scd2_cp_sink")

    def run():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (stateful.scd2_changes_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_slices(1, 2)
    run()
    write_slices(3, 4)
    run()

    changes = spark.read.parquet(sink)
    _assert_same(relational.scd2_history(ev),
                 stateful.stitch_versions(changes))


def test_holt_stream_checkpoint_restart_carries_state(spark, tmp_path):
    """A17 durability for the Holt recurrence: stop the stream mid-log,
    restart from the same checkpoint with new files — the (level, trend)
    doubles must round-trip the state store LOSSLESSLY, so the combined
    output equals the batch kernel bit-for-bit (a single ULP of drift at
    the restart boundary would diverge every later step)."""
    from kafka_streams_in_action_spark.operators import windows as wops

    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "holt_cp_src")
    cp = str(tmp_path / "holt_cp")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))

    def write_slices(lo, hi):
        for s in range(lo, hi + 1):
            (sliced.filter(F.col("slice") == s).drop("slice")
             .coalesce(1).write.mode("append").parquet(d))

    sink = str(tmp_path / "holt_cp_sink")

    def run():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (stateful.holt_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_slices(1, 2)
    run()
    write_slices(3, 4)
    run()

    _assert_same(wops.holt_smoothing(ev), spark.read.parquet(sink))


def test_throttle_stream_checkpoint_restart_carries_state(spark, tmp_path):
    """A17 durability for the rate limiter: the (open hour, count) pair
    must survive a checkpoint restart — a reset counter would re-admit
    over-quota events in the second run."""
    from kafka_streams_in_action_spark.operators import event_time as et

    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "thr_cp_src")
    cp = str(tmp_path / "thr_cp")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))

    def write_slices(lo, hi):
        for s in range(lo, hi + 1):
            (sliced.filter(F.col("slice") == s).drop("slice")
             .coalesce(1).write.mode("append").parquet(d))

    sink = str(tmp_path / "thr_cp_sink")

    def run():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (stateful.rate_throttle_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_slices(1, 2)
    run()
    write_slices(3, 4)
    run()

    _assert_same(et.rate_throttle(ev), spark.read.parquet(sink))


def test_drawdown_stream_checkpoint_restart_carries_state(spark, tmp_path):
    """A17 durability for the drawdown sweep: the (cum, peak) BIGINT
    pair must survive a checkpoint restart — a reset peak would
    under-report every later drawdown. The per-event emissions, rolled
    up, must equal the batch aggregate exactly."""
    from kafka_streams_in_action_spark.operators import windows as wops

    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "dd_cp_src")
    cp = str(tmp_path / "dd_cp")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))

    def write_slices(lo, hi):
        for s in range(lo, hi + 1):
            (sliced.filter(F.col("slice") == s).drop("slice")
             .coalesce(1).write.mode("append").parquet(d))

    sink = str(tmp_path / "dd_cp_sink")

    def run():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (stateful.drawdown_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_slices(1, 2)
    run()
    write_slices(3, 4)
    run()

    rolled = (spark.read.parquet(sink)
              .groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum("flow_milli").alias("final_milli"),
                   F.max("peak_milli").alias("peak_milli"),
                   F.max("dd_milli").alias("max_dd_milli")))
    _assert_same(wops.equity_drawdown(ev), rolled)


def test_cep_stream_checkpoint_restart_carries_state(spark, tmp_path):
    """A17 durability for the negation-CEP machine: the open-pattern
    state (pending signup, negation flag) must survive a checkpoint
    restart — a dropped pending pattern would lose conversions that
    straddle the restart, a dropped negation flag would emit false
    positives."""
    from kafka_streams_in_action_spark.operators import event_time as et

    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "cep_cp_src")
    cp = str(tmp_path / "cep_cp")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))

    def write_slices(lo, hi):
        for s in range(lo, hi + 1):
            (sliced.filter(F.col("slice") == s).drop("slice")
             .coalesce(1).write.mode("append").parquet(d))

    sink = str(tmp_path / "cep_cp_sink")

    def run():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (stateful.cep_conversion_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_slices(1, 2)
    run()
    write_slices(3, 4)
    run()

    _assert_same(et.cep_conversion(ev), spark.read.parquet(sink))


def test_flatline_stream_checkpoint_restart_carries_run(spark, tmp_path):
    """A17 durability for the run detector: the (last value, run
    length) pair must survive a checkpoint restart — a reset run would
    both under-count the longest run and over-count run starts."""
    from kafka_streams_in_action_spark.operators import relational

    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "fl_cp_src")
    cp = str(tmp_path / "fl_cp")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))

    def write_slices(lo, hi):
        for s in range(lo, hi + 1):
            (sliced.filter(F.col("slice") == s).drop("slice")
             .coalesce(1).write.mode("append").parquet(d))

    sink = str(tmp_path / "fl_cp_sink")

    def run():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (stateful.flatline_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_slices(1, 2)
    run()
    write_slices(3, 4)
    run()

    rolled = (spark.read.parquet(sink)
              .groupBy("event_type")
              .agg(F.sum("run_start").cast("long").alias("n_runs"),
                   F.max("run_len").alias("longest_run"),
                   F.sum(F.when(F.col("run_len") == 3, 1).otherwise(0))
                   .cast("long").alias("n_flatlines")))
    _assert_same(relational.flatline_runs(ev), rolled)


def test_interarrival_stream_checkpoint_restart_carries_moments(
        spark, tmp_path):
    """A17 durability for the inter-arrival moments: the five integer
    state fields (last_t, n, Σgs, Σgs², max gap) must survive a
    checkpoint restart — a reset last_t would invent a giant gap at the
    restart boundary and poison max/CV. The per-batch emissions roll up
    read-side (max-n per user) through the SAME finalize expression tree
    as the batch operator, so equality is bit-exact."""
    from kafka_streams_in_action_spark.operators import event_time as et

    ev = load_table(spark, "events", SF_DIR)
    d = str(tmp_path / "ia_cp_src")
    cp = str(tmp_path / "ia_cp")
    from pyspark.sql import Window
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id")))

    def write_slices(lo, hi):
        for s in range(lo, hi + 1):
            (sliced.filter(F.col("slice") == s).drop("slice")
             .coalesce(1).write.mode("append").parquet(d))

    sink = str(tmp_path / "ia_cp_sink")

    def run():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (stateful.interarrival_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_slices(1, 2)
    run()
    write_slices(3, 4)
    run()

    em = spark.read.parquet(sink)
    best = (em.groupBy("user_id")
            .agg(F.max_by(F.struct("n_gaps", "s1", "s2", "max_gap_us"),
                          "n_gaps").alias("b")))
    agg = (best.select(
               "user_id", F.col("b.n_gaps").alias("n_gaps"),
               F.col("b.max_gap_us").alias("max_gap_us"),
               F.col("b.s1").cast("double").alias("_s1"),
               F.col("b.s2").cast("double").alias("_s2"),
               F.col("b.n_gaps").cast("double").alias("_n"))
           .filter(F.col("n_gaps") > 0))
    _assert_same(et.interarrival_stats(ev), et.interarrival_finalize(agg))
