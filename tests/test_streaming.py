"""Streaming semantics: watermark late-data policy, bounded-state
dedup expiry, stateful sessionization — the invariants append mode is
supposed to guarantee, asserted over hand-built micro-batches.

(The streaming gate queries in queries.py replay the full events table
and are oracle-checked by test_queries_vs_oracle; these tests cover the
behaviors a full-replay comparison can't pin down: which rows are
*dropped* and when state *expires*.)
"""

from __future__ import annotations

import os
import tempfile
import time
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T
from presto_rakam_kafka_spark.fixtures import staging_mkdtemp

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _ts(hhmm: str) -> datetime:
    h, m = hhmm.split(":")
    return datetime(2024, 6, 1, int(h), int(m))


def _stage_batches(spark, batches):
    """Write each batch as one parquet file with increasing mtimes so
    maxFilesPerTrigger=1 replays them in order."""
    d = staging_mkdtemp("stream_case_")
    now = time.time()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(j, t, u, et, 1.0, None) for j, (t, u, et) in enumerate(rows)],
            EVENT_SCHEMA,
        )
        tmp = staging_mkdtemp("stage_tmp_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob
        import shutil

        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        dst = os.path.join(d, f"part-{i:05d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(tmp)
    return d


def _run(spark, d, build, mode):
    from presto_rakam_kafka_spark.streaming import runner

    src = runner.read_file_stream(spark, d, EVENT_SCHEMA)
    return runner.run_available_now(
        build(src), f"case_{abs(hash(d)) % 10**9}", mode
    )


def test_append_mode_drops_late_beyond_watermark(spark):
    """A row older than the watermark whose window already passed is
    dropped; windows emit only once the watermark passes their end."""
    from presto_rakam_kafka_spark.streaming import windows as swin

    # Spark applies the late-event filter with the watermark of the
    # PREVIOUS batch, while eviction/emission uses the current one — so
    # a row must arrive ≥2 batches after the watermark passed its
    # window to be dropped.
    batches = [
        # batch 0: eviction wm after it = 11:05 - 10m = 10:55
        [(_ts("09:10"), 1, "view"), (_ts("10:00"), 1, "view"),
         (_ts("10:30"), 1, "view"), (_ts("11:05"), 1, "view")],
        # batch 1: emits windows 09:00 (n=1) and 10:00 (n=2) at wm
        # 10:55; eviction wm after = 11:50
        [(_ts("12:00"), 1, "view")],
        # batch 2: late filter wm = 11:50 → 09:20 (window end 10:00)
        # dropped, not resurrected as a fresh state group
        [(_ts("12:30"), 1, "view"), (_ts("09:20"), 1, "view")],
    ]
    d = _stage_batches(spark, batches)
    out = _run(
        spark, d,
        lambda src: swin.tumbling_counts(src, "1 hour", watermark="10 minutes"),
        "append",
    )
    got = {r["window_start"][11:16]: r["n"] for r in out.collect()}
    # final eviction wm = 12:30 - 10m = 12:20 → 11:00 window (end
    # 12:00) emits; the 12:00 window (end 13:00) stays open forever; a
    # resurrected 09:00 group would show up as a duplicate 09:00 row.
    assert got == {"09:00": 1, "10:00": 2, "11:00": 1}


def test_dedup_state_expires_past_watermark(spark):
    """dropDuplicatesWithinWatermark: a duplicate within the delay is
    suppressed; once the watermark passes first_seen + delay the state
    is evicted and the key is emitted again."""
    from presto_rakam_kafka_spark.streaming import dedup as sdedup

    batches = [
        # a@10:00 first seen (a@10:10 duplicate suppressed); b@11:30
        # pushes the eviction watermark to 11:00 past a's expiry
        # (10:00 + 30m = 10:30).
        [(_ts("10:00"), 1, "a"), (_ts("10:10"), 1, "a"), (_ts("11:30"), 2, "b")],
        # state eviction applies with one batch of delay (like the
        # late-event filter): this filler batch lets a's state go.
        [(_ts("12:00"), 3, "c")],
        # a@12:00 re-emitted (state evicted); a@12:05 suppressed again.
        [(_ts("12:00"), 1, "a"), (_ts("12:05"), 1, "a")],
    ]
    d = _stage_batches(spark, batches)

    def build(src):
        return (
            src.withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type", F.date_format("ts", "HH:mm").alias("t"))
        )

    out = _run(spark, d, build, "append")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, "a", "10:00"),
        (1, "a", "12:00"),
        (2, "b", "11:30"),
        (3, "c", "12:00"),
    ]


def test_sessionize_closes_on_gap_and_timeout(spark):
    """applyInPandasWithState: a later-than-gap event closes the open
    session immediately; the final session closes only via event-time
    timeout once the watermark passes last_event + gap."""
    from presto_rakam_kafka_spark.streaming import sessionize as ssz

    batches = [
        # user 1: events 10:00/10:10 (one session), then 11:00 opens a
        # second (gap 50m > 30m closes the first).
        [(_ts("10:00"), 1, "view"), (_ts("10:10"), 1, "view"), (_ts("11:00"), 1, "view")],
        # user 2 far ahead at 14:00 pushes the final watermark to 13:30
        # > 11:00+30m → user 1's second session times out and emits.
        # user 2's own session stays open (13:30 < 14:00+30m).
        [(_ts("14:00"), 2, "view")],
    ]
    d = _stage_batches(spark, batches)
    out = _run(spark, d, lambda src: ssz.sessionize(src, 30, "30 minutes"), "append")
    got = sorted(
        (r["user_id"], r["session_start"][11:16], r["session_end"][11:16], r["n_events"])
        for r in out.collect()
    )
    assert got == [(1, "10:00", "10:40", 2), (1, "11:00", "11:30", 1)]


def test_foreachbatch_parquet_sink_exactly_once(spark, sf_dir):
    """foreachBatch sink: every input row lands exactly once across
    micro-batches (epoch-keyed idempotent writes), and the sink equals
    the batch read of the same input."""
    import tempfile

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.streaming import runner, sinks

    d = runner.stage_chunked_events(spark, sf_dir, "events", num_chunks=4)
    schema = read_table(spark, sf_dir, "events").schema
    src = runner.read_file_stream(spark, d, schema).select(
        "event_id", "user_id", "event_type"
    )
    out_dir = staging_mkdtemp("sink_out_")
    q = sinks.write_stream_parquet_exactly_once(src, out_dir)
    q.awaitTermination()
    got = sinks.read_sink(spark, out_dir)
    expected = read_table(spark, sf_dir, "events")
    assert got.count() == expected.count()
    assert got.select("event_id").distinct().count() == expected.count()
    # >1 epoch directory proves multi-batch, not one big write
    import os

    epochs = [e for e in os.listdir(out_dir) if e.startswith("epoch=")]
    assert len(epochs) >= 2


def test_stream_replay_has_multiple_batches(spark, sf_dir):
    """The staged replay really is micro-batched (4 chunks → 4 files),
    so gate queries exercise cross-batch state, not a single batch."""
    from presto_rakam_kafka_spark.streaming import runner

    d = runner.stage_chunked_events(spark, sf_dir, "events", num_chunks=4)
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 4
    # chunks are time-ordered: max ts of chunk i <= min ts of chunk i+1
    bounds = []
    for f in sorted(files):
        df = spark.read.parquet(os.path.join(d, f))
        row = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
        bounds.append((row["lo"], row["hi"]))
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert hi <= lo


def test_update_mode_emits_revisions_converging_to_batch(spark):
    # Update mode re-emits a window's row every batch that changes it;
    # the LAST revision per window must equal the batch-mode answer.
    batches = [
        [(_ts("10:05"), 1, "click"), (_ts("10:10"), 2, "click")],
        [(_ts("10:20"), 3, "click")],          # revises the 10:00 window
        [(_ts("11:05"), 4, "click")],          # opens the 11:00 window
    ]
    d = _stage_batches(spark, batches)

    def build(src):
        return (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )

    out = _run(spark, d, build, "update").collect()
    # Multiple revisions of the 10:00 window must exist...
    revs = sorted(r.n for r in out if r.ws == _ts("10:00"))
    assert len(revs) >= 2 and revs[-1] == 3
    # ...and the final state per window equals the batch result.
    final = {}
    for r in out:  # memory sink appends in emission order
        final[r.ws] = r.n
    assert final == {_ts("10:00"): 3, _ts("11:00"): 1}


def test_stream_funnel_state_advances_across_batches(spark):
    """Funnel state must persist across micro-batches: steps split over
    different triggers still convert, and a step seen BEFORE its
    predecessor (even in an earlier batch) does not count."""
    from presto_rakam_kafka_spark.streaming import funnel as sfunnel

    batches = [
        [(_ts("10:00"), 1, "view"), (_ts("10:00"), 2, "click")],
        [(_ts("10:05"), 1, "click"), (_ts("10:05"), 2, "view")],
        [(_ts("10:10"), 1, "purchase")],
    ]
    d = _stage_batches(spark, batches)
    out = _run(spark, d, lambda src: sfunnel.funnel_stream(src), "append")
    got = {(r["user_id"], r["step"], r["step_name"]) for r in out.collect()}
    assert got == {
        (1, 1, "view"),
        (1, 2, "click"),
        (1, 3, "purchase"),
        (2, 1, "view"),
    }


def test_stream_funnel_window_blocks_slow_conversion(spark):
    """With a 1h conversion window, a click 2h after the view (arriving
    in a later batch) must not advance the funnel."""
    from presto_rakam_kafka_spark.streaming import funnel as sfunnel

    batches = [
        [(_ts("08:00"), 7, "view"), (_ts("08:00"), 8, "view")],
        [(_ts("10:30"), 7, "click"), (_ts("08:30"), 8, "click")],
    ]
    d = _stage_batches(spark, batches)
    out = _run(
        spark, d, lambda src: sfunnel.funnel_stream(src, window_hours=1), "append"
    )
    got = {(r["user_id"], r["step"]) for r in out.collect()}
    assert got == {(7, 1), (8, 1), (8, 2)}


def test_streaming_schema_evolution_per_microbatch(spark):
    """Rakam's continuous ingestion: each micro-batch may carry NEW
    property keys; a foreachBatch evolve_collection call appends them
    to the metastore as they arrive, ordinal-stable, never re-typing
    existing columns — the dynamic-schema behavior the reference's
    metastore-backed tables assume has already happened upstream."""
    import json as _json
    import os
    import tempfile

    from presto_rakam_kafka_spark.metastore import SchemaField, SqlMetastore
    from presto_rakam_kafka_spark.schema_inference import evolve_collection
    from presto_rakam_kafka_spark.types import FieldType

    ms = SqlMetastore()
    ms.register("tpch", "events", [SchemaField("event_id", FieldType.LONG)])

    # Two chunks with different key sets, replayed as two triggers.
    d = staging_mkdtemp("evolve_stream_")
    batches = [
        [(1, _json.dumps({"k": 1}))],
        [(2, _json.dumps({"k": 2, "score": 0.5}))],
    ]
    import time as _time

    now = _time.time()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "event_id LONG, props STRING").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(d, f"staging{i}"))
        import glob
        import shutil

        src = glob.glob(os.path.join(d, f"staging{i}", "*.parquet"))[0]
        dst = os.path.join(d, f"part-{i:05d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(os.path.join(d, f"staging{i}"))

    stream = (
        spark.readStream.schema("event_id LONG, props STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    seen: list[list[str]] = []

    def on_batch(batch_df, epoch_id):
        added = evolve_collection(ms, "tpch", "events", batch_df)
        seen.append([f.name for f in added])

    ckpt = staging_mkdtemp("ckpt_evolve_")
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    names = [f.name for f in ms.get_collection("tpch", "events")]
    assert names == ["event_id", "props_k", "props_score"]
    # keys appeared exactly when their batch arrived
    assert [s for s in seen if s] == [["props_k"], ["props_score"]]


def test_stream_attribution_state_spans_microbatches(spark):
    """A conversion in a LATER micro-batch is attributed to a touch
    from an EARLIER one (state restore), a conversion outside the
    7-day window gets 'none', and first_touch survives across both."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from presto_rakam_kafka_spark.streaming.attribution import attribution_stream

    import datetime as dt

    schema = "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
    t = lambda s_: dt.datetime.fromisoformat(s_)  # noqa: E731
    batches = [
        [
            (1, 7, "view", t("2024-01-01 00:00:00")),
            (2, 7, "click", t("2024-01-02 00:00:00")),
            (3, 8, "view", t("2024-01-01 00:00:00")),
        ],
        [
            (4, 7, "purchase", t("2024-01-03 00:00:00")),  # click in batch 1
            (5, 8, "purchase", t("2024-02-01 00:00:00")),  # view outside 7d
            (6, 9, "purchase", t("2024-01-05 00:00:00")),  # no touch ever
        ],
    ]
    d = staging_mkdtemp("attr_stream_")
    now = time.time()
    for i, rows in enumerate(batches):
        stage = os.path.join(d, f"staging{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(os.path.join(stage, "*.parquet"))[0]
        dst = os.path.join(d, f"part-{i:05d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(stage)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = attribution_stream(stream)
    ckpt = staging_mkdtemp("attr_ckpt_")
    q = (
        out.writeStream.format("memory")
        .queryName("attr_x")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["conversion_id"]: (r["attributed_touch"], r["first_touch"])
        for r in spark.sql("SELECT * FROM attr_x").collect()
    }
    assert got == {
        4: ("click", "view"),
        5: ("none", "view"),
        6: ("none", "none"),
    }, got


def test_export_stream_accumulates_manifest_and_verifies(spark, sf_dir):
    """Continuous dataset export: two micro-batches append to the same
    shard layout, the manifest accumulates (sums fold exactly), the
    final state equals a one-shot batch export of the union, and
    verify_export passes."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import datasets as ds

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = staging_mkdtemp("export_stream_src_")
    now = time.time()
    for i, pred in enumerate((F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1)):
        stage = os.path.join(src, f"staging{i}")
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "*.parquet"))[0]
        dst = os.path.join(src, f"part-{i:05d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(stage)

    out = staging_mkdtemp("export_stream_out_")
    ckpt = staging_mkdtemp("export_stream_ckpt_")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        ds.export_stream(stream, out, "text", "doc_id", num_shards=4, checkpoint=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert ds.verify_export(spark, out, "text", "doc_id")
    import json as _json

    with open(os.path.join(out, "_MANIFEST.json")) as f:
        streamed = _json.load(f)
    batch_path = staging_mkdtemp("export_batch_ref_")
    batch = ds.export_dataset(docs, batch_path, "text", "doc_id", num_shards=4)
    assert {int(k): v for k, v in streamed["shards"].items()} == batch["shards"]
    assert streamed["total_docs"] == batch["total_docs"]
    assert streamed["total_tokens"] == batch["total_tokens"]


def test_export_batch_replay_is_exactly_once(spark, sf_dir):
    """foreachBatch replay semantics (VERDICT r6 next-2): re-invoking
    the batch fn with an already-committed epoch_id is a no-op — rows
    on disk, manifest stats, and verify_export all unchanged; and a
    replay after a simulated crash BETWEEN the data write and the
    manifest flip (epoch dir on disk, epoch not committed) overwrites
    the partial data and commits exactly once."""
    import json
    import os
    import tempfile

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import datasets as ds

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)

    out = staging_mkdtemp("export_replay_")
    fn = ds.export_batch_fn(out, "text", "doc_id", num_shards=4)
    fn(b0, 0)
    fn(b1, 1)

    def snapshot():
        with open(os.path.join(out, "_MANIFEST.json")) as f:
            return json.load(f)

    before = snapshot()
    rows_before = spark.read.parquet(out).count()
    assert before["txns"] == {"default": 1}
    assert ds.verify_export(spark, out, "text", "doc_id")

    # replay AFTER commit: exact no-op
    fn(b1, 1)
    assert snapshot() == before
    assert spark.read.parquet(out).count() == rows_before
    assert ds.verify_export(spark, out, "text", "doc_id")

    # crash BEFORE the flip: epoch-2 data (partial: half the rows)
    # exists on disk but is not committed; the replay overwrites it and
    # commits once.
    b2 = docs.filter(F.col("doc_id") % 7 == 3)
    partial = b2.limit(3).withColumn(
        "shard", F.expr(ds.shard_expr("doc_id", 4))
    )
    partial.write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(out, "epoch=2")
    )
    assert snapshot() == before  # not yet committed
    fn(b2, 2)
    after = snapshot()
    assert after["txns"] == {"default": 2}
    assert after["total_docs"] == before["total_docs"] + b2.count()
    assert ds.verify_export(spark, out, "text", "doc_id")

    # restart under a NEW app_id (fresh checkpoint, epochs back at 0):
    # the batch must APPLY — an epoch-only idempotence key would have
    # silently swallowed it as a replay (round 8, ADVICE)
    b3 = docs.filter(F.col("doc_id") % 11 == 4)
    fn2 = ds.export_batch_fn(out, "text", "doc_id", num_shards=4,
                             app_id="run2")
    fn2(b3, 0)
    final = snapshot()
    assert final["txns"] == {"default": 2, "run2": 0}
    assert final["total_docs"] == after["total_docs"] + b3.count()
    assert ds.verify_export(spark, out, "text", "doc_id")
    # and run2's replay of its own epoch 0 skips
    fn2(b3, 0)
    assert snapshot() == final


def test_stream_funnel_state_ttl_expires_idle_users(spark):
    """State TTL (r6 verdict next-7): a user idle past state_ttl_hours
    of EVENT time is expired by the watermark clock and re-enters as a
    brand-new user — their old depth is gone (a purchase that would
    have been step 3 emits nothing; a fresh view emits step 1). A user
    who stays within the TTL keeps advancing across batches."""
    from presto_rakam_kafka_spark.streaming import funnel as sfunnel

    batches = [
        # user 1 reaches depth 2; ttl clock anchored at 10:05
        [(_ts("10:00"), 1, "view"), (_ts("10:05"), 1, "click")],
        # user 2 activity advances event time far past 10:05 + 2h
        [(_ts("18:00"), 2, "view")],
        # watermark (batch-1 max = 18:00) now exceeds user 1's timeout
        # (12:05) -> user 1's state is removed during this batch
        [(_ts("18:05"), 2, "click")],
        # user 1 returns: purchase would be step 3 under the old state,
        # but an expired user is a NEW user -> purchase matches nothing
        # and the later view emits step 1 again
        [(_ts("19:00"), 1, "purchase"), (_ts("19:01"), 1, "view")],
    ]
    d = _stage_batches(spark, batches)
    out = _run(
        spark,
        d,
        lambda src: sfunnel.funnel_stream(src, state_ttl_hours=2),
        "append",
    )
    got = {(r["user_id"], r["step"], r["step_name"]) for r in out.collect()}
    assert got == {
        (1, 1, "view"),
        (1, 2, "click"),
        (2, 1, "view"),
        (2, 2, "click"),
        # re-entry after expiry restarts at step 1: the second
        # (1, 1, "view") emission dedupes into the set above
    }
    assert (1, 3, "purchase") not in got

    # control: same replay WITHOUT a TTL converts user 1 at step 3
    d2 = _stage_batches(spark, batches)
    out2 = _run(spark, d2, lambda src: sfunnel.funnel_stream(src), "append")
    got2 = {(r["user_id"], r["step"]) for r in out2.collect()}
    assert (1, 3) in got2


def test_stream_attribution_state_ttl_resets_carry(spark):
    """Attribution state TTL: after state_ttl_days of event-time idle,
    the per-user carry is dropped — a later conversion with no fresh
    touch attributes to 'none' with first_touch 'none' (new-user
    behavior), where the untimed stream would still carry first_touch."""
    import datetime as dt
    import glob
    import os
    import shutil
    import tempfile
    import time

    from presto_rakam_kafka_spark.streaming.attribution import attribution_stream

    schema = "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
    t = lambda s_: dt.datetime.fromisoformat(s_)  # noqa: E731
    batches = [
        # user 7 touches on Jan 1; ttl = 10 days -> expires Jan 11
        [(1, 7, "click", t("2024-01-01 00:00:00"))],
        # user 8 advances event time to Feb 1
        [(2, 8, "view", t("2024-02-01 00:00:00"))],
        # watermark = Feb 1 > Jan 11 -> user 7 expires in this batch
        [(3, 8, "purchase", t("2024-02-02 00:00:00"))],
        # user 7 converts after expiry with no fresh touch: 'none'/'none'
        # (without the TTL the carry would still hold first_touch
        # 'click' even though the 7-day window already yields 'none')
        [(4, 7, "purchase", t("2024-02-03 00:00:00"))],
    ]

    def run(build):
        d = staging_mkdtemp("attr_ttl_")
        now = time.time()
        for i, rows in enumerate(batches):
            stage = os.path.join(d, f"staging{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            part = glob.glob(os.path.join(stage, "*.parquet"))[0]
            dst = os.path.join(d, f"part-{i:05d}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (now + i, now + i))
            shutil.rmtree(stage)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        name = f"attr_ttl_{abs(hash(d)) % 10**9}"
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", staging_mkdtemp("ck_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["conversion_id"]: (r["attributed_touch"], r["first_touch"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }

    with_ttl = run(lambda s: attribution_stream(s, state_ttl_days=10))
    assert with_ttl[4] == ("none", "none")  # expired -> new user
    assert with_ttl[3] == ("view", "view")  # active user unaffected

    no_ttl = run(lambda s: attribution_stream(s))
    assert no_ttl[4] == ("none", "click")  # carry survives without TTL


def test_cdc_batch_replay_and_crash_recovery(spark):
    """CDC snapshot maintenance is exactly-once: a replayed epoch is a
    no-op (pointer unchanged, snapshot unchanged); a crash AFTER the
    generation write but BEFORE the pointer flip leaves the orphan
    invisible, and the replay overwrites it and commits once. Delete
    markers remove keys; later changes re-insert them; in-batch change
    ordering resolves by (ts, tiebreak) max."""
    import datetime as dt
    import os
    import tempfile

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame([(1, "base1", t0, 0, False)], sch).drop("deleted")
    path = staging_mkdtemp("cdc_test_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=4)
    fn = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted")

    mk = lambda rows: spark.createDataFrame(rows, sch)  # noqa: E731
    # epoch 0: k=1 updated twice in-batch (seq 2 wins), k=2 inserted
    fn(mk([
        (1, "a1", t0, 1, False),
        (1, "a2", t0, 2, False),
        (2, "b1", t0, 1, False),
    ]), 0)
    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap == {1: "a2", 2: "b1"}

    # epoch 1: delete k=1
    fn(mk([(1, None, t0, 3, True)]), 1)
    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap == {2: "b1"}

    # replay epoch 1: exact no-op
    with open(os.path.join(path, "_CURRENT")) as f:
        ptr_before = f.read()
    fn(mk([(1, None, t0, 3, True)]), 1)
    with open(os.path.join(path, "_CURRENT")) as f:
        assert f.read() == ptr_before
    assert {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()} == {2: "b1"}

    # crash before flip: orphan gen-0000000003 exists, pointer stale;
    # the replayed epoch 2 overwrites the orphan and commits once
    mk([(3, "junk", t0, 1, False)]).drop("deleted").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "gen-0000000003"))
    assert {r["k"] for r in cdc.read_snapshot(spark, path).collect()} == {2}
    fn(mk([(1, "back", t0, 4, False)]), 2)  # k=1 re-inserted after delete
    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap == {1: "back", 2: "b1"}


def test_cdc_snapshot_gc_keeps_current_and_window(spark):
    """gc_snapshots removes superseded generations only: the pointed
    generation (and newer in-flight orphans) survive, keep_last bounds
    the time-travel window, and the snapshot still reads after GC."""
    import datetime as dt
    import os
    import tempfile

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame([(1, "b", t0, 0, False)], sch).drop("deleted")
    path = staging_mkdtemp("cdc_gc_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=4)
    fn = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted")
    for e in range(3):
        fn(spark.createDataFrame([(2 + e, f"v{e}", t0, 1, False)], sch), e)
    # in-flight orphan NEWER than current must survive GC
    spark.createDataFrame([(99, "orphan", t0, 1, False)], sch).drop(
        "deleted"
    ).write.mode("overwrite").parquet(os.path.join(path, "gen-0000000099"))

    # round 13: the default time grace retains freshly-superseded
    # victims (slow-reader window) — nothing removed until it elapses
    # or the caller force-overrides
    assert cdc.gc_snapshots(path, keep_last=2) == []
    removed = cdc.gc_snapshots(path, keep_last=2, min_age_s=0.0)
    gens = sorted(e for e in os.listdir(path) if e.startswith("gen-"))
    assert removed == ["gen-0000000000", "gen-0000000001"]
    assert gens == ["gen-0000000002", "gen-0000000003", "gen-0000000099"]
    assert {r["k"] for r in cdc.read_snapshot(spark, path).collect()} == {1, 2, 3, 4}


def test_funnel_ttl_bounds_state_rows(spark):
    """The point of the state TTL, measured with Spark's own state
    metrics: a stream of mostly one-shot users grows the funnel state
    without bound (numRowsTotal == every user ever), while the same
    replay with a TTL expires idle users and ends with strictly fewer
    state rows — O(users active within the horizon)."""
    import tempfile
    from datetime import timedelta

    from presto_rakam_kafka_spark.streaming import funnel as sfunnel
    from presto_rakam_kafka_spark.streaming import runner

    t0 = _ts("08:00")
    batches = []
    for i in range(5):
        base = t0 + timedelta(hours=3 * i)
        batches.append(
            [(base, 1000 * (i + 1) + u, "view") for u in range(40)]
        )

    def run(build):
        d = _stage_batches(spark, batches)
        src = runner.read_file_stream(spark, d, EVENT_SCHEMA)
        name = f"ttl_state_{abs(hash(d)) % 10**9}"
        q = (
            build(src)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", staging_mkdtemp("ck_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        return rows[-1]

    unbounded = run(lambda s: sfunnel.funnel_stream(s))
    bounded = run(lambda s: sfunnel.funnel_stream(s, state_ttl_hours=2))
    # 5 batches x 40 one-shot users: without TTL every user ever stays
    # in state; with a 2h TTL (batches 3h apart) earlier cohorts expire
    assert unbounded == 200, unbounded
    assert bounded < unbounded, (bounded, unbounded)
    assert bounded <= 80, bounded  # at most ~the last horizon's cohorts


def test_cdc_snapshot_time_travel(spark):
    """read_snapshot(generation=...) reads a retained older generation
    (time travel); a GC'd generation raises instead of silently serving
    the current one."""
    import datetime as dt
    import tempfile

    import pytest

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame([(1, "b", t0, 0, False)], sch).drop("deleted")
    path = staging_mkdtemp("cdc_tt_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=4)
    fn = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted")
    fn(spark.createDataFrame([(2, "x", t0, 1, False)], sch), 0)
    fn(spark.createDataFrame([(3, "y", t0, 1, False)], sch), 1)

    old = cdc.read_snapshot(spark, path, generation="gen-0000000001")
    assert {r["k"] for r in old.collect()} == {1, 2}
    assert {r["k"] for r in cdc.read_snapshot(spark, path).collect()} == {1, 2, 3}

    cdc.gc_snapshots(path, keep_last=1, min_age_s=0.0)
    with pytest.raises(FileNotFoundError, match="gen-0000000001"):
        cdc.read_snapshot(spark, path, generation="gen-0000000001")


def test_stream_funnel_ttl_watermark_delay_tolerates_late_events(spark):
    """TTL mode's watermark is a real allowed-lateness knob (round 8,
    ADVICE): a cross-batch out-of-order event survives when the delay
    covers the disorder and is folded exactly like the no-TTL path; the
    r7 hard-coded '0 seconds' silently dropped it (kept here as the
    documented default behavior, asserted explicitly)."""
    from presto_rakam_kafka_spark.streaming import funnel as sfunnel

    batches = [
        # batch 0: user 1 enters the funnel; user 2's 12:00 view pushes
        # the max event time to 12:00
        [(_ts("10:00"), 1, "view"), (_ts("12:00"), 2, "view")],
        # batch 1: filler (the late filter applies the watermark with a
        # one-batch lag — see test_append_mode_drops_late_beyond_watermark)
        [(_ts("12:30"), 2, "click")],
        # batch 2: user 1's click is 1h OLD relative to the 12:00 max —
        # cross-batch disorder, filtered against wm = 12:00 − delay
        [(_ts("11:00"), 1, "click")],
        # batch 3: the funnel completes in order
        [(_ts("13:00"), 1, "purchase")],
    ]

    def run(**kw):
        d = _stage_batches(spark, batches)
        out = _run(
            spark, d,
            lambda src: sfunnel.funnel_stream(src, state_ttl_hours=24, **kw),
            "append",
        )
        return {(r["user_id"], r["step"]) for r in out.collect()}

    # delay ≥ disorder (wm = 10:00): late click folds, funnel completes
    # — identical to the no-TTL semantics
    assert run(watermark="2 hours") == {(1, 1), (1, 2), (1, 3), (2, 1), (2, 2)}
    # default 0-second delay (wm = 12:00): the late click is dropped
    # BEFORE the stateful operator, so the purchase can't advance past
    # step 1 — the documented cost of a zero lateness allowance
    assert run() == {(1, 1), (2, 1), (2, 2)}


def test_cdc_sharded_merge_rewrites_only_touched_buckets(spark):
    """Round-8 flagship fix (VERDICT next-1): a micro-batch MERGE into a
    bucket-sharded snapshot rewrites ONLY the buckets its keys hash to;
    every other bucket's files are hard-linked into the new generation
    (same inode, st_nlink > 1 — zero data I/O). A one-key batch against
    a multi-bucket snapshot must therefore leave most bucket files
    shared, the snapshot content must be exactly the merged result, and
    GC of the old generation must not break the links."""
    import datetime as dt
    import glob
    import tempfile

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame(
        [(k, f"v{k}", t0, 0, False) for k in range(200)], sch
    ).drop("deleted")
    path = staging_mkdtemp("cdc_shard_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=8)
    fn = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted")

    fn(
        spark.createDataFrame([(7, "CHANGED", t0, 1, False)], sch), 0
    )

    cur, _ = cdc._read_pointer(path)
    assert cur == "gen-0000000001"
    gen_files = glob.glob(os.path.join(path, cur, "_shard=*", "*.parquet"))
    linked = [f for f in gen_files if os.stat(f).st_nlink > 1]
    rewritten = [f for f in gen_files if os.stat(f).st_nlink == 1]
    # 8 buckets, one key touched → exactly 7 buckets' files linked
    linked_buckets = {os.path.basename(os.path.dirname(f)) for f in linked}
    rewritten_buckets = {os.path.basename(os.path.dirname(f)) for f in rewritten}
    assert len(linked_buckets) == 7, (linked_buckets, rewritten_buckets)
    assert len(rewritten_buckets) == 1
    assert not (linked_buckets & rewritten_buckets)
    # linked files are the SAME inode as the previous generation's
    prev_inodes = {
        os.stat(f).st_ino
        for f in glob.glob(
            os.path.join(path, "gen-0000000000", "_shard=*", "*.parquet")
        )
    }
    assert all(os.stat(f).st_ino in prev_inodes for f in linked)

    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap[7] == "CHANGED"
    assert len(snap) == 200
    assert all(snap[k] == f"v{k}" for k in range(200) if k != 7)

    # GC the base generation: hard links keep the shared files alive
    cdc.gc_snapshots(path, keep_last=1, min_age_s=0.0)
    assert not os.path.isdir(os.path.join(path, "gen-0000000000"))
    snap2 = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap2 == snap


def test_cdc_appid_restart_is_not_swallowed_as_replay(spark):
    """Idempotence is keyed on (app_id, epoch) — Delta's txnAppId
    recipe (round 8, ADVICE): a stream restarted with a fresh
    checkpoint restarts epochs at 0 under a NEW app_id and its batches
    APPLY; the r7 epoch-only key silently skipped every such batch as a
    'replay'. Same-app replays still skip exactly-once, per app."""
    import datetime as dt
    import tempfile

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame([(1, "base", t0, 0, False)], sch).drop("deleted")
    path = staging_mkdtemp("cdc_appid_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=4)

    mk = lambda rows: spark.createDataFrame(rows, sch)  # noqa: E731
    fn_a = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted",
                            app_id="stream-a")
    fn_a(mk([(1, "a-e0", t0, 1, False)]), 0)
    fn_a(mk([(2, "a-e1", t0, 1, False)]), 1)
    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap == {1: "a-e0", 2: "a-e1"}

    # restart with a fresh checkpoint: epochs back at 0, new app_id —
    # the nonempty batch must APPLY, not be swallowed
    fn_b = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted",
                            app_id="stream-b")
    fn_b(mk([(3, "b-e0", t0, 1, False)]), 0)
    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap == {1: "a-e0", 2: "a-e1", 3: "b-e0"}

    # replays stay exactly-once PER app: b's epoch 0 and a's epoch 1
    # both skip; a NEW a epoch still applies
    fn_b(mk([(3, "dup", t0, 2, False)]), 0)
    fn_a(mk([(2, "dup", t0, 2, False)]), 1)
    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap == {1: "a-e0", 2: "a-e1", 3: "b-e0"}
    fn_a(mk([(2, "a-e2", t0, 2, False)]), 2)
    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap == {1: "a-e0", 2: "a-e2", 3: "b-e0"}


def test_cdc_manifest_mode_references_untouched_buckets(spark):
    """Object-store-safe carry-forward (round 9, VERDICT r8 #2): with
    carry='manifest' a micro-batch MERGE writes ONLY its touched
    buckets into the new generation; every untouched bucket is carried
    BY REFERENCE — the new manifest's entry points verbatim into the
    PRIOR generation's files (no os.link, nothing an S3/GCS store
    can't do). GC refcounts across retained manifests: a referenced
    file survives its own generation's retirement, the victim's
    manifest goes away (time travel to it raises), and unreferenced
    files are removed. Replay of a committed epoch stays a no-op."""
    import datetime as dt
    import glob
    import tempfile

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame(
        [(k, f"v{k}", t0, 0, False) for k in range(200)], sch
    ).drop("deleted")
    path = staging_mkdtemp("cdc_manifest_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=8,
                      carry="manifest")
    fn = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted")

    fn(spark.createDataFrame([(7, "CHANGED", t0, 1, False)], sch), 0)

    cur, _ = cdc._read_pointer(path)
    assert cur == "gen-0000000001"
    man = cdc._read_manifest(path, cur)
    gen0_refs = {
        b: fs for b, fs in man["buckets"].items()
        if all(f.startswith("gen-0000000000/") for f in fs)
    }
    gen1_refs = {
        b: fs for b, fs in man["buckets"].items()
        if all(f.startswith("gen-0000000001/") for f in fs)
    }
    # 8 buckets, one key touched: 7 carried by REFERENCE into gen-0,
    # exactly 1 rewritten in gen-1; the referenced files were NOT
    # copied or linked (gen-1's dir holds only the touched bucket)
    assert len(gen0_refs) == 7 and len(gen1_refs) == 1
    assert len(man["buckets"]) == 8
    gen1_dirs = {
        os.path.basename(d)
        for d in glob.glob(os.path.join(path, cur, "_shard=*"))
    }
    assert len(gen1_dirs) == 1
    # referenced files still exist where the manifest says, unlinked
    for fs in gen0_refs.values():
        for f in fs:
            assert os.stat(os.path.join(path, f)).st_nlink == 1

    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap[7] == "CHANGED" and len(snap) == 200
    assert all(snap[k] == f"v{k}" for k in range(200) if k != 7)

    # replayed epoch: exact no-op (pointer unchanged)
    with open(os.path.join(path, "_CURRENT")) as f:
        ptr = f.read()
    fn(spark.createDataFrame([(7, "REPLAYED", t0, 1, False)], sch), 0)
    with open(os.path.join(path, "_CURRENT")) as f:
        assert f.read() == ptr

    # second batch touches another key, then GC the base generation:
    # files still referenced by retained manifests SURVIVE inside the
    # victim dir, unreferenced ones are removed, the victim manifest is
    # gone (loud time-travel failure), and the snapshot reads unchanged;
    # both victims still hold carried buckets, so neither directory is
    # gone and GC names neither
    fn(spark.createDataFrame([(11, "ALSO", t0, 1, False)], sch), 1)
    removed = cdc.gc_snapshots(path, keep_last=1, min_age_s=0.0)
    assert removed == []
    cur2, _ = cdc._read_pointer(path)
    man2 = cdc._read_manifest(path, cur2)
    for fs in man2["buckets"].values():
        for f in fs:
            assert os.path.exists(os.path.join(path, f)), f
    assert not os.path.exists(
        os.path.join(path, "gen-0000000000", "_MANIFEST.json")
    )
    import pytest

    with pytest.raises(FileNotFoundError):
        cdc.read_snapshot(spark, path, generation="gen-0000000000")
    snap2 = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap2[7] == "CHANGED" and snap2[11] == "ALSO" and len(snap2) == 200


def test_export_manifest_epochs_list_migrates_to_txns(spark, sf_dir):
    """A manifest written by the pre-(app_id, epoch) exporter recorded
    an 'epochs' LIST and no 'txns' record (ADVICE r8): on the first
    post-upgrade batch the txn map is seeded from max(epochs), so a
    replay of an already-committed epoch is STILL skipped (stats never
    double-fold) while the next genuinely-new epoch applies."""
    import json
    import os
    import tempfile

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import datasets as ds

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter("doc_id % 2 = 0")
    b1 = docs.filter("doc_id % 2 = 1")
    path = staging_mkdtemp("export_migrate_")
    fn = ds.export_batch_fn(path, "text", "doc_id", num_shards=4)
    fn(b0, 0)
    fn(b1, 1)
    mpath = os.path.join(path, "_MANIFEST.json")
    with open(mpath) as f:
        manifest = json.load(f)
    before = json.dumps(manifest, sort_keys=True)
    # rewrite the manifest in the LEGACY shape: epochs list, no txns
    legacy = dict(manifest)
    txns = legacy.pop("txns")
    legacy["epochs"] = list(range(int(txns["default"]) + 1))
    with open(mpath, "w") as f:
        json.dump(legacy, f)

    # post-upgrade replay of committed epoch 1: must be a no-op — the
    # in-memory migration seeds txns from max(epochs) and skips before
    # touching disk, so the stats are not double-folded (the manifest
    # file itself migrates on the next real commit)
    fn(b1, 1)
    with open(mpath) as f:
        after = json.load(f)
    assert after["shards"] == manifest["shards"]  # stats not double-folded
    assert ds.verify_export(spark, path, "text", "doc_id")

    # a genuinely-new epoch applies and persists the migrated shape
    fn(b1.limit(5), 2)
    with open(mpath) as f:
        final = json.load(f)
    assert final["txns"] == {"default": 2}
    assert "epochs" not in final


def test_cdc_rebase_snapshot_self_contained_and_gc(spark):
    """rebase_snapshot re-baselines a manifest store: the new
    generation's manifest references ONLY itself, content is unchanged,
    exactly-once txn state survives the flip, and GC afterwards
    reclaims every prior generation's files (nothing is pinned by
    references anymore)."""
    import datetime as dt
    import os
    import tempfile

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame(
        [(k, f"v{k}", t0, 0, False) for k in range(100)], sch
    ).drop("deleted")
    path = staging_mkdtemp("cdc_rebase_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=8,
                      carry="manifest")
    fn = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted")
    fn(spark.createDataFrame([(7, "A", t0, 1, False)], sch), 0)
    fn(spark.createDataFrame([(13, "B", t0, 1, False)], sch), 1)

    gen, n = cdc.rebase_snapshot(spark, path)
    assert gen == "gen-0000000003" and n > 0
    man = cdc._read_manifest(path, gen)
    assert all(
        f.startswith(f"{gen}/")
        for fs in man["buckets"].values() for f in fs
    )
    # txn record survived: replaying epoch 1 is still a no-op
    with open(os.path.join(path, "_CURRENT")) as f:
        ptr = f.read()
    fn(spark.createDataFrame([(13, "REPLAY", t0, 1, False)], sch), 1)
    with open(os.path.join(path, "_CURRENT")) as f:
        assert f.read() == ptr

    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap[7] == "A" and snap[13] == "B" and len(snap) == 100

    removed = cdc.gc_snapshots(path, keep_last=1, min_age_s=0.0)
    assert set(removed) == {
        "gen-0000000000", "gen-0000000001", "gen-0000000002"
    }
    # nothing pinned: the old generation dirs are fully gone
    for g in removed:
        assert not os.path.isdir(os.path.join(path, g)), g
    snap2 = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap2 == snap


def test_lookup_snapshot_prunes_to_touched_buckets(spark):
    """Snapshot point read: a small key set scans only its md5 buckets
    in BOTH carry modes, results equal a full-scan filter, absent keys
    have no row, and the bucket routing matches the writer's placement
    (cross-checked against the stored _shard partition values)."""
    import datetime as dt
    import tempfile

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame(
        [(k, f"v{k}", t0, 0, False) for k in range(300)], sch
    ).drop("deleted")
    for carry in ("link", "manifest"):
        path = staging_mkdtemp(f"cdc_lk_{carry}_")
        cdc.init_snapshot(base, path, key_col="k", num_buckets=16,
                          carry=carry)
        got = {
            r["k"]: r["v"]
            for r in cdc.lookup_snapshot(spark, path, [5, 77, 9999]).collect()
        }
        assert got == {5: "v5", 77: "v77"}, (carry, got)
        # pruning: the plan reads fewer files than the full snapshot
        full = cdc.read_snapshot(spark, path)
        probe = cdc.lookup_snapshot(spark, path, [5])
        n_full = full.inputFiles()
        n_probe = probe.inputFiles()
        assert len(n_probe) < len(n_full), (carry, len(n_probe), len(n_full))


def test_cdc_gc_refcount_survives_non_normalized_store_path(spark):
    """gc_snapshots refcounting must compare STORE-RELATIVE normalized
    paths (ADVICE r9): GC'ing the same manifest-mode store through a
    trailing-slash / 'dir/../dir' alias of its path must never delete a
    data file a retained manifest still references."""
    import datetime as dt
    import os

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame(
        [(k, f"v{k}", t0, 0, False) for k in range(64)], sch
    ).drop("deleted")
    path = staging_mkdtemp("cdc_gcnorm_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=8,
                      carry="manifest")
    fn = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted")
    fn(spark.createDataFrame([(7, "CHANGED", t0, 1, False)], sch), 0)
    fn(spark.createDataFrame([(11, "ALSO", t0, 1, False)], sch), 1)

    # every alias of the store path: trailing slash, parent-hop, both
    base_name = os.path.basename(path)
    aliases = [
        path + "/",
        os.path.join(os.path.dirname(path), "..",
                     os.path.basename(os.path.dirname(path)), base_name),
    ]
    for alias in aliases:
        removed = cdc.gc_snapshots(alias, keep_last=1, min_age_s=0.0)
        if removed:
            break
    # the current generation must still read intact: every referenced
    # file (including carried-by-reference gen-0 files inside the
    # victim dirs) survives
    snap = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert snap[7] == "CHANGED" and snap[11] == "ALSO" and len(snap) == 64
    assert all(snap[k] == f"v{k}" for k in range(64) if k not in (7, 11))


def _staged_day_stream(spark, rows, schema, num_chunks=4, tag="bounded"):
    """Stage `rows` as time-ordered parquet chunks (one per trigger)
    and return the stream DF — the stage_chunked_events shape for
    synthetic data."""
    import glob
    import shutil
    import time as _time

    from pyspark.sql import Window as W

    from presto_rakam_kafka_spark.streaming import runner

    df = spark.createDataFrame(rows, schema)
    chunked = df.withColumn(
        "_chunk", F.ntile(num_chunks).over(W.orderBy("ts")) - 1
    )
    work = staging_mkdtemp(f"stream_{tag}_stage_")
    flat = staging_mkdtemp(f"stream_{tag}_")
    now = _time.time()
    for i in range(num_chunks):
        part = chunked.filter(F.col("_chunk") == i).drop("_chunk")
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(work, f"chunk={i}")
        )
        srcs = glob.glob(os.path.join(work, f"chunk={i}", "*.parquet"))
        assert len(srcs) == 1
        dst = os.path.join(flat, f"part-{i:05d}.parquet")
        shutil.copy(srcs[0], dst)
        os.utime(dst, (now + i, now + i))
    shutil.rmtree(work)
    return runner.read_file_stream(spark, flat, df.schema)


def test_rolling_pairs_fold_state_is_window_bounded(spark):
    """VERDICT r9 next-2: the emit-on-close rolling fold's live state
    is bounded by (window + open days) x daily keys — NOT stream
    lifetime — while its emitted+tail output is row-equal to the
    unbounded finish."""
    import datetime as dt

    from presto_rakam_kafka_spark.operators import sketches as sk
    from presto_rakam_kafka_spark.streaming import rollup

    days, users = 100, 20
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (t0 + dt.timedelta(days=d), (d * 31 + u) % 57)
        for d in range(days) for u in range(users)
    ]
    stream = _staged_day_stream(
        spark, rows, "ts TIMESTAMP, user_id LONG", tag="roll"
    )
    store = staging_mkdtemp("rollup_test_hll_")
    out = rollup.run_rolling_pairs(
        stream,
        lambda b: b.select(
            F.date_trunc("day", "ts").alias("uday"), "user_id"
        ).distinct(),
        sk.hll_rolling_users_from_pairs,
        "uday",
        7,
        "hll_bounded_test",
        path=store,
    )
    got = {r["day"]: (r["n_exact"], r["est"]) for r in out.collect()}

    # unbounded reference over the same rows
    batch_pairs = spark.createDataFrame(
        rows, "ts TIMESTAMP, user_id LONG"
    ).select(F.date_trunc("day", "ts").alias("uday"), "user_id").distinct()
    ref = {
        r["day"]: (r["n_exact"], r["est"])
        for r in sk.hll_rolling_users_from_pairs(batch_pairs).collect()
    }
    assert got == ref and len(got) == days

    # THE BOUND: live pairs cover at most window+open days x daily
    # keys; lifetime would be days x users-per-day
    live = rollup.live_state_size(spark, store)
    assert live <= 8 * users, live
    assert live < (days * users) / 10, live


def test_windowed_cells_fold_state_is_window_bounded(spark):
    """VERDICT r9 next-2: the per-trigger-compacted cell fold retains
    only live-window cells (max running day - 29), and merging partial
    cells across triggers reproduces the unbounded fold's cells
    exactly."""
    import datetime as dt

    from presto_rakam_kafka_spark.streaming import rollup

    days, users = 90, 10
    t0 = dt.datetime(2024, 1, 1, 8, 0)
    rows = []
    for d in range(days):
        for u in range(users):
            # two events per (user, day): partial cells must merge
            for j in (0, 1):
                rows.append(
                    (t0 + dt.timedelta(days=d, hours=j), u,
                     "purchase" if (u + d) % 3 else "error",
                     float(u + d + j))
                )
    sch = "ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    stream = _staged_day_stream(spark, rows, sch, tag="cells")
    store = staging_mkdtemp("rollup_test_cells_")

    def cell_fn(b):
        return b.groupBy(
            "user_id", "event_type", F.date_trunc("day", "ts").alias("cday")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.sum("value").alias("sv"),
        )

    cells = rollup.run_windowed_cells(
        stream, cell_fn,
        ["user_id", "event_type", "cday"],
        [F.sum("n").alias("n"), F.min("min_ts").alias("min_ts"),
         F.max("max_ts").alias("max_ts"), F.sum("sv").alias("sv")],
        "cday", 30, "cells_bounded_test", path=store,
    )
    got = {
        (r["user_id"], r["event_type"], r["cday"]):
        (r["n"], r["min_ts"], r["max_ts"], r["sv"])
        for r in cells.collect()
    }
    # reference: the unbounded fold cut to the final trailing window
    batch = spark.createDataFrame(rows, sch)
    ref_all = cell_fn(batch)
    mx = ref_all.agg(F.max("cday")).collect()[0][0]
    ref = {
        (r["user_id"], r["event_type"], r["cday"]):
        (r["n"], r["min_ts"], r["max_ts"], r["sv"])
        for r in ref_all.filter(
            F.col("cday") >= F.lit(mx) - F.expr("INTERVAL 29 DAYS")
        ).collect()
    }
    assert got == ref
    # THE BOUND: 30 window days x keys, not 90 lifetime days
    live = rollup.live_state_size(spark, store)
    assert live <= 30 * users, live
    assert live < len(rows) / 2


def _staged_chunk_stream(spark, chunks, schema, tag):
    """Stage EXPLICIT per-trigger row chunks (not time-ordered) — the
    late-arrival harness: chunk i arrives strictly after chunk i-1,
    whatever its event times say."""
    import glob
    import shutil
    import time as _time

    from presto_rakam_kafka_spark.streaming import runner

    work = staging_mkdtemp(f"stream_{tag}_stage_")
    flat = staging_mkdtemp(f"stream_{tag}_")
    now = _time.time()
    sch = None
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(rows, schema)
        sch = df.schema
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(work, f"chunk={i}")
        )
        srcs = glob.glob(os.path.join(work, f"chunk={i}", "*.parquet"))
        assert len(srcs) == 1
        dst = os.path.join(flat, f"part-{i:05d}.parquet")
        shutil.copy(srcs[0], dst)
        os.utime(dst, (now + i, now + i))
    shutil.rmtree(work)
    return runner.read_file_stream(spark, flat, sch)


def test_rolling_pairs_lateness_inside_slack_is_exact(spark):
    """VERDICT r10 #3: with ``allowed_lateness_days``, an out-of-order
    event whose anchor day is still inside the slack lands in an
    UNCLOSED anchor and the emitted∪tail series equals the unbounded
    finish over ALL events — r10 closed anchors at max−1 with no slack
    and silently excluded any late event."""
    import datetime as dt

    from presto_rakam_kafka_spark.operators import sketches as sk
    from presto_rakam_kafka_spark.streaming import rollup

    t0 = dt.datetime(2024, 3, 1, 12, 0)

    def ev(d, u):
        return (t0 + dt.timedelta(days=d), u)

    # chunks are the arrival order; chunk 2 delivers day-4 and day-5
    # events AFTER day 6 was seen (2 and 1 days late — inside slack=2)
    chunks = [
        [ev(d, u) for d in range(0, 3) for u in range(6)],
        [ev(d, u) for d in range(3, 7) for u in range(6)],
        [ev(4, 93), ev(5, 94)] + [ev(7, u) for u in range(6)],
        [ev(d, u) for d in range(8, 12) for u in range(6)],
    ]
    stream = _staged_chunk_stream(
        spark, chunks, "ts TIMESTAMP, user_id LONG", tag="late_ok"
    )
    store = staging_mkdtemp("rollup_late_ok_")
    out = rollup.run_rolling_pairs(
        stream,
        lambda b: b.select(
            F.date_trunc("day", "ts").alias("uday"), "user_id"
        ).distinct(),
        lambda pr: sk.hll_rolling_users_from_pairs(pr, window_days=4),
        "uday",
        4,
        "late_ok_test",
        path=store,
        allowed_lateness_days=2,
    )
    got = {r["day"]: (r["n_exact"], r["est"]) for r in out.collect()}
    all_rows = [r for c in chunks for r in c]
    ref_pairs = spark.createDataFrame(
        all_rows, "ts TIMESTAMP, user_id LONG"
    ).select(F.date_trunc("day", "ts").alias("uday"), "user_id").distinct()
    ref = {
        r["day"]: (r["n_exact"], r["est"])
        for r in sk.hll_rolling_users_from_pairs(
            ref_pairs, window_days=4
        ).collect()
    }
    assert got == ref  # the late users 93/94 are counted exactly


def test_rolling_pairs_lateness_past_slack_documented_drop(spark):
    """An event LATER than the slack arrives after its anchors were
    emitted: those rows are final without it (the documented
    watermark drop — same as Structured Streaming past the
    watermark). The run equals one that never saw the event at all."""
    import datetime as dt

    from presto_rakam_kafka_spark.operators import sketches as sk
    from presto_rakam_kafka_spark.streaming import rollup

    t0 = dt.datetime(2024, 3, 1, 12, 0)

    def ev(d, u):
        return (t0 + dt.timedelta(days=d), u)

    base = [
        [ev(d, u) for d in range(0, 4) for u in range(5)],
        [ev(d, u) for d in range(4, 9) for u in range(5)],
        [ev(d, u) for d in range(9, 12) for u in range(5)],
    ]
    late = [ev(1, 95)]  # 10 days late with slack 1: anchors 1..4 long closed

    def run(chunks, tag):
        stream = _staged_chunk_stream(
            spark, chunks, "ts TIMESTAMP, user_id LONG", tag=tag
        )
        out = rollup.run_rolling_pairs(
            stream,
            lambda b: b.select(
                F.date_trunc("day", "ts").alias("uday"), "user_id"
            ).distinct(),
            lambda pr: sk.hll_rolling_users_from_pairs(pr, window_days=4),
            "uday",
            4,
            f"late_drop_{tag}",
            path=staging_mkdtemp(f"rollup_{tag}_"),
            allowed_lateness_days=1,
        )
        return {r["day"]: (r["n_exact"], r["est"]) for r in out.collect()}

    with_late = run(base[:2] + [late + base[2][:]], "with_late")
    without = run(base, "without_late")
    assert with_late == without  # the past-slack event left no trace


def test_windowed_cells_eviction_safe_under_arbitrary_lateness(spark):
    """run_windowed_cells needs NO slack: eviction is anchored to the
    monotone running max and the finish cuts at the FINAL max, so an
    evicted day can never re-enter the final window. A late event for
    an in-window day merges into its still-live cell; one for an
    out-of-window day is invisible in the final cut. Output equals the
    unbounded fold cut to the final trailing window."""
    import datetime as dt

    from presto_rakam_kafka_spark.streaming import rollup

    t0 = dt.datetime(2024, 3, 1, 8, 0)
    rows_by_chunk = [
        [(t0 + dt.timedelta(days=d), u, float(d + u))
         for d in range(0, 15) for u in range(4)],
        [(t0 + dt.timedelta(days=d), u, float(d + u))
         for d in range(15, 30) for u in range(4)],
        # late arrivals: day 27 (inside the final 10-day window) and
        # day 2 (far outside it) land after day 29 was seen
        [(t0 + dt.timedelta(days=27), 91, 5.0),
         (t0 + dt.timedelta(days=2), 92, 7.0)]
        + [(t0 + dt.timedelta(days=d), u, float(d + u))
           for d in range(30, 33) for u in range(4)],
    ]
    sch = "ts TIMESTAMP, user_id LONG, value DOUBLE"
    stream = _staged_chunk_stream(spark, rows_by_chunk, sch, tag="cells_late")

    def cell_fn(b):
        return b.groupBy(
            F.date_trunc("day", "ts").alias("cday")
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))

    cells = rollup.run_windowed_cells(
        stream, cell_fn, ["cday"],
        [F.sum("n").alias("n"), F.sum("sv").alias("sv")],
        "cday", 10, "cells_late_test",
        path=staging_mkdtemp("rollup_cells_late_"),
    )
    got = {r["cday"]: (r["n"], r["sv"]) for r in cells.collect()}
    all_rows = [r for c in rows_by_chunk for r in c]
    ref_all = cell_fn(spark.createDataFrame(all_rows, sch))
    mx = ref_all.agg(F.max("cday")).collect()[0][0]
    ref = {
        r["cday"]: (r["n"], r["sv"])
        for r in ref_all.filter(
            F.col("cday") >= F.lit(mx) - F.expr("INTERVAL 9 DAYS")
        ).collect()
    }
    assert got == ref
    # the in-window late row really is in the output
    key27 = t0.replace(hour=0) + dt.timedelta(days=27)
    assert got[key27][0] == 4 + 1  # 4 regular + 1 late event


def test_rolling_pairs_second_maintainer_preserves_emitted_rows(spark):
    """Round-11 review finding: the emitted append store is keyed by
    the STORE-level sequence, so a second maintainer (fresh checkpoint,
    epoch ids restarting at 0) must not overwrite the first run's
    emitted anchor rows — the final series equals the unbounded finish
    over everything both runs saw."""
    import datetime as dt
    import glob
    import shutil
    import time as _time

    from presto_rakam_kafka_spark.operators import sketches as sk
    from presto_rakam_kafka_spark.streaming import rollup, runner

    t0 = dt.datetime(2024, 5, 1, 12, 0)

    def ev(d, u):
        return (t0 + dt.timedelta(days=d), u)

    sch = "ts TIMESTAMP, user_id LONG"
    all_chunks = [
        [ev(d, u) for d in range(0, 4) for u in range(5)],
        [ev(d, u) for d in range(4, 8) for u in range(5)],
        [ev(d, u) for d in range(8, 12) for u in range(5)],
        [ev(d, u) for d in range(12, 16) for u in range(5)],
    ]
    flat = staging_mkdtemp("stream_two_maint_")
    store = staging_mkdtemp("rollup_two_maint_store_")
    now = _time.time()

    def stage(upto):
        work = staging_mkdtemp("stage_two_maint_")
        for i, rows in enumerate(all_chunks[:upto]):
            dst = os.path.join(flat, f"part-{i:05d}.parquet")
            if os.path.exists(dst):
                continue
            df = spark.createDataFrame(rows, sch)
            df.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(work, f"c{i}")
            )
            src = glob.glob(os.path.join(work, f"c{i}", "*.parquet"))[0]
            shutil.copy(src, dst)
            os.utime(dst, (now + i, now + i))
        shutil.rmtree(work)
        return runner.read_file_stream(spark, flat, spark.createDataFrame(
            all_chunks[0], sch).schema)

    def run(stream, app_id):
        return rollup.run_rolling_pairs(
            stream,
            lambda b: b.select(
                F.date_trunc("day", "ts").alias("uday"), "user_id"
            ).distinct(),
            lambda pr: sk.hll_rolling_users_from_pairs(pr, window_days=4),
            "uday",
            4,
            f"two_maint_{app_id}",
            path=store,
            app_id=app_id,
        )

    run(stage(2), "first")  # emits the early anchors
    out = run(stage(4), "second")  # fresh checkpoint, epoch restarts at 0
    got = {r["day"]: (r["n_exact"], r["est"]) for r in out.collect()}
    ref_pairs = spark.createDataFrame(
        [r for c in all_chunks for r in c], sch
    ).select(F.date_trunc("day", "ts").alias("uday"), "user_id").distinct()
    ref = {
        r["day"]: (r["n_exact"], r["est"])
        for r in sk.hll_rolling_users_from_pairs(
            ref_pairs, window_days=4
        ).collect()
    }
    assert got == ref  # early emitted rows survived the second run


def test_rolling_pairs_reads_legacy_epoch_emitted_dirs(spark):
    """ADVICE r11 #2: a persisted store whose emitted anchors were
    written by the pre-round-11 code under ``emitted/epoch=N`` must
    keep those rows when resumed by the current code (which writes
    ``emitted/gen=N``): both naming schemes are read at serve time, so
    no already-emitted anchor day silently vanishes (the live tail
    excludes days <= emitted_thru, so nothing would ever re-emit them).
    """
    import datetime as dt

    from presto_rakam_kafka_spark.operators import sketches as sk
    from presto_rakam_kafka_spark.streaming import rollup

    t0 = dt.datetime(2024, 3, 1, 12, 0)

    def ev(d, u):
        return (t0 + dt.timedelta(days=d), u)

    sch = "ts TIMESTAMP, user_id LONG"
    store = staging_mkdtemp("rollup_legacy_emit_")

    def pair_fn(b):
        return b.select(
            F.date_trunc("day", "ts").alias("uday"), "user_id"
        ).distinct()

    def finish(pr):
        return sk.hll_rolling_users_from_pairs(pr, window_days=3)

    chunks = [
        [ev(d, u) for d in range(0, 6) for u in range(5)],
        [ev(d, u) for d in range(6, 10) for u in range(5)],
    ]
    out1 = rollup.run_rolling_pairs(
        _staged_chunk_stream(spark, chunks, sch, tag="legacy_emit1"),
        pair_fn, finish, "uday", 3, "legacy_emit_run1", path=store,
    )
    ref = {r["day"]: (r["n_exact"], r["est"]) for r in out1.collect()}

    # simulate the pre-round-11 layout: emitted anchors under epoch=N
    emitted = os.path.join(store, "emitted")
    gens = sorted(e for e in os.listdir(emitted) if e.startswith("gen="))
    assert gens, "fixture must have emitted at least one generation"
    for i, g in enumerate(gens):
        os.rename(
            os.path.join(emitted, g), os.path.join(emitted, f"epoch={i}")
        )

    # resume the SAME persisted store with a continuation stream (fresh
    # checkpoint -> fresh app_id, the r8 rule)
    cont = [[ev(d, u) for d in range(10, 13) for u in range(5)]]
    out2 = rollup.run_rolling_pairs(
        _staged_chunk_stream(spark, cont, sch, tag="legacy_emit2"),
        pair_fn, finish, "uday", 3, "legacy_emit_run2", path=store,
        app_id="resume",
    )
    got = {r["day"]: (r["n_exact"], r["est"]) for r in out2.collect()}
    # every anchor day the first run emitted is still present, intact
    for day, v in ref.items():
        assert got.get(day) == v, (day, v, got.get(day))
    # and the continuation's days arrived on top
    assert len(got) > len(ref)


def test_drain_available_now_raises_on_exhausted_restarts(spark):
    """ADVICE r11 #3: drain_available_now must FAIL LOUDLY when
    max_restarts is exhausted while the source still yields rows — a
    silent partial aggregate surfaces as an opaque hash mismatch in a
    gate query and as wrong data everywhere else."""
    import pytest

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentDataSource,
        write_segments,
    )
    from presto_rakam_kafka_spark.streaming import runner

    log = staging_mkdtemp("drain_exhaust_log_")
    rows = spark.range(0, 400).select(
        F.col("id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct(F.col("id").alias("v"))).cast("binary").alias("value"),
        F.current_timestamp().alias("timestamp"),
    )
    write_segments(rows, log, num_partitions=1, segment_rows=50)
    spark.dataSource.register(KafkaSegmentDataSource)
    stream = (
        spark.readStream.format("kafka_segments")
        .option("path", log)
        .option("maxRowsPerBatch", 50)  # 400 rows / 50 per restart
        .load()
    )
    agg = stream.groupBy().agg(F.count(F.lit(1)).alias("n"))
    with pytest.raises(RuntimeError, match="max_restarts"):
        runner.drain_available_now(agg, "drain_exhaust", "complete",
                                   max_restarts=3)


def test_drain_exactly_complete_on_last_restart_no_raise(spark):
    """Round-12 review finding #4: a source holding exactly
    max_restarts batches drains completely on the last allowed start —
    the exhaustion guard must run its confirming zero-row start and
    return the complete snapshot, not crash it."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentDataSource,
        write_segments,
    )
    from presto_rakam_kafka_spark.streaming import runner

    log = staging_mkdtemp("drain_exact_log_")
    rows = spark.range(0, 150).select(
        F.col("id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct(F.col("id").alias("v"))).cast("binary").alias("value"),
        F.current_timestamp().alias("timestamp"),
    )
    write_segments(rows, log, num_partitions=1, segment_rows=50)
    spark.dataSource.register(KafkaSegmentDataSource)
    stream = (
        spark.readStream.format("kafka_segments")
        .option("path", log)
        .option("maxRowsPerBatch", 50)  # 150 rows = exactly 3 batches
        .load()
    )
    agg = stream.groupBy().agg(F.count(F.lit(1)).alias("n"))
    out = runner.drain_available_now(agg, "drain_exact", "complete",
                                     max_restarts=3)
    assert out.collect()[0]["n"] == 150


def test_cdc_second_writer_fenced_not_lost(spark):
    """Round 12: the CDC snapshot pointer flip carries the serving
    store's fence — two writers that both read the same base
    generation and merge concurrently-prepared generations commit
    exactly once: the second flip raises FencedMaintenanceError
    instead of silently last-writer-winning the pointer (which would
    orphan the first commit and lose its rows at the next GC)."""
    import datetime as dt

    import pytest

    from presto_rakam_kafka_spark.streaming import cdc
    from presto_rakam_kafka_spark.streaming.serving import (
        FencedMaintenanceError,
    )

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame(
        [(1, "base1", t0, 0, False)], sch
    ).drop("deleted")
    path = staging_mkdtemp("cdc_fence_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=4)
    gen0, txns0 = cdc._read_pointer(path)

    # writer A commits normally
    upd_a = spark.createDataFrame([(2, "a", t0, 1, False)], sch)
    cdc.merge_into_snapshot(upd_a, path, "k", delete_col="deleted",
                            txn=("a", 0))
    gen1, _ = cdc._read_pointer(path)
    assert gen1 != gen0

    # writer B prepared its generation against gen0 (simulated: its
    # pointer read happened before A's flip) — its commit must fence
    with pytest.raises(FencedMaintenanceError):
        cdc._fenced_flip(path, gen0, "gen-9999999999", dict(txns0))
    cur, _ = cdc._read_pointer(path)
    assert cur == gen1  # A's commit intact
    # A's rows are still served
    got = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert got == {1: "base1", 2: "a"}


def test_cdc_concurrent_merges_queue_not_clobber(spark):
    """Round 12: two writers merging into one snapshot concurrently
    QUEUE on the store guard — both commits land (the second bases on
    the first's generation) and the final snapshot carries both
    updates. Unguarded, both derived gen-N+1 from one pointer read and
    the loser's overwrite destroyed the winner's generation data
    BEFORE either flipped (the fence only caught the loser)."""
    import datetime as dt
    import threading

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"
    base = spark.createDataFrame(
        [(1, "base1", t0, 0, False)], sch
    ).drop("deleted")
    path = staging_mkdtemp("cdc_queue_")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=4)

    errs: list[BaseException] = []

    def merge(k, v, app):
        try:
            upd = spark.createDataFrame([(k, v, t0, 1, False)], sch)
            cdc.merge_into_snapshot(upd, path, "k", delete_col="deleted",
                                    txn=(app, 0))
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    t1 = threading.Thread(target=merge, args=(2, "from_a", "a"))
    t2 = threading.Thread(target=merge, args=(3, "from_b", "b"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    got = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert got == {1: "base1", 2: "from_a", 3: "from_b"}
    _cur, txns = cdc._read_pointer(path)
    assert txns.get("a") == 0 and txns.get("b") == 0


def test_rollup_state_flip_is_fenced(spark, monkeypatch):
    """ADVICE r12 #2: the windowed-cells/rolling-pairs state commits
    must refuse a stale publish when the pointer moved since the fold's
    read — on a flock-less filesystem the .MAINT_LOCK excludes nothing
    and two maintainers would otherwise clobber generation dirs and
    last-writer-win the pointer. The hook lands a second maintainer's
    flip inside the check-then-flip window."""
    import pytest as _pytest

    from presto_rakam_kafka_spark.streaming import rollup
    from presto_rakam_kafka_spark.streaming.serving import (
        FencedMaintenanceError,
    )

    path = staging_mkdtemp("rollup_fence_")
    rollup._flip_pointer(path, "gen-0000000000", {"a": 0})

    def thief_flip():
        rollup._flip_pointer(path, "gen-0000000001", {"b": 0})

    monkeypatch.setattr(rollup, "_before_flip_hook", thief_flip)
    with _pytest.raises(FencedMaintenanceError):
        rollup._fenced_flip(path, "gen-0000000000", "gen-0000000001",
                            {"a": 1})
    # the thief's commit is intact, the stale writer never won
    cur, txns, _e = rollup._read_pointer(path)
    assert cur == "gen-0000000001" and txns == {"b": 0}

    # unmoved pointer: the flip lands normally
    monkeypatch.setattr(rollup, "_before_flip_hook", None)
    rollup._fenced_flip(path, "gen-0000000001", "gen-0000000002", {"b": 1})
    cur2, txns2, _e2 = rollup._read_pointer(path)
    assert cur2 == "gen-0000000002" and txns2 == {"b": 1}
