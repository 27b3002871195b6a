"""kafka_segments Python DataSource: split planning, offset pushdown,
strict layout discovery (SURVEY §2.A A1-A4 as a native Spark source)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

from presto_rakam_kafka_spark.fixtures import read_table
from presto_rakam_kafka_spark.sources.kafka_datasource import (
    KafkaLogLayoutError,
    KafkaSegmentDataSource,
    KafkaSegmentReader,
    write_segments,
)


@pytest.fixture(scope="module")
def log_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("kafka_log"))
    raw = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
        .cast("binary")
        .alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, d, num_partitions=3, segment_rows=200)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(KafkaSegmentDataSource)
    return d


def test_scan_is_complete_and_exact(spark, sf_dir, log_dir):
    df = spark.read.format("kafka_segments").option("path", log_dir).load()
    n_events = read_table(spark, sf_dir, "events").count()
    assert df.count() == n_events
    # offsets survive the round trip exactly (no double-count, no gap —
    # the reference's TestManySegments invariant)
    assert (
        df.agg(F.count_distinct("offset")).collect()[0][0] == n_events
    )


def test_partitions_one_split_per_segment(log_dir):
    rdr = KafkaSegmentReader({"path": log_dir})
    splits = rdr.partitions()
    n_segments = sum(
        1
        for p in os.listdir(log_dir)
        if os.path.isdir(os.path.join(log_dir, p))
        for s in os.listdir(os.path.join(log_dir, p))
        if s.endswith(".parquet")
    )
    assert len(splits) == n_segments


def test_pushdown_consumes_offset_conjuncts_and_prunes(log_dir):
    rdr = KafkaSegmentReader({"path": log_dir})
    all_splits = rdr.partitions()
    rdr2 = KafkaSegmentReader({"path": log_dir})
    remaining = list(
        rdr2.pushFilters(
            [GreaterThanOrEqual(("offset",), 100), LessThan(("offset",), 300)]
        )
    )
    assert remaining == []  # fully consumed → no post-scan Filter needed
    pruned = rdr2.partitions()
    assert len(pruned) < len(all_splits)  # whole segments pruned by stats
    for s in pruned:
        assert s.start >= 100 and s.end <= 300


def test_pushdown_equality_and_foreign_filters(log_dir):
    rdr = KafkaSegmentReader({"path": log_dir})
    foreign = EqualTo(("topic",), "tpch_events")
    remaining = list(rdr.pushFilters([EqualTo(("offset",), 42), foreign]))
    assert remaining == [foreign]  # non-offset filters stay with Spark
    splits = [s for s in rdr.partitions() if s.end > s.start]
    # min/max stats keep one candidate segment per partition (their spans
    # all overlap offset 42); every surviving split is clamped to the
    # single-offset range and the actual row lives in exactly one.
    assert 1 <= len(splits) <= 3
    for s in splits:
        assert (s.start, s.end) == (42, 43)
    rows = [row for s in splits for batch in rdr.read(s) for row in batch.to_pylist()]
    assert len(rows) == 1 and rows[0]["offset"] == 42


def test_filtered_scan_matches_source_of_truth(spark, sf_dir, log_dir):
    df = (
        spark.read.format("kafka_segments")
        .option("path", log_dir)
        .load()
        .filter((F.col("offset") >= 100) & (F.col("offset") < 300))
    )
    exp = (
        read_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 100) & (F.col("event_id") < 300))
        .count()
    )
    assert df.count() == exp


def test_min_splits_subdivides_segments(log_dir):
    base = len(KafkaSegmentReader({"path": log_dir}).partitions())
    rdr = KafkaSegmentReader({"path": log_dir, "minsplits": str(base * 3)})
    splits = rdr.partitions()
    assert len(splits) >= base * 3
    # sub-splits of one segment tile its range without overlap
    by_file: dict[str, list] = {}
    for s in splits:
        by_file.setdefault(s.path, []).append(s)
    for file_splits in by_file.values():
        file_splits.sort(key=lambda s: s.start)
        for a, b in zip(file_splits, file_splits[1:]):
            assert a.end == b.start


def test_strict_layout_discovery_raises(tmp_path):
    with pytest.raises(KafkaLogLayoutError):
        KafkaSegmentReader({"path": str(tmp_path)}).partitions()  # empty dir
    with pytest.raises(KafkaLogLayoutError):
        KafkaSegmentReader({}).pushFilters([])  # no path at all


def test_fully_pruned_scan_returns_zero_rows(spark, log_dir):
    df = (
        spark.read.format("kafka_segments")
        .option("path", log_dir)
        .load()
        .filter(F.col("offset") >= 10_000_000)
    )
    assert df.count() == 0


def test_stream_reader_incremental_exactly_once(spark, sf_dir, tmp_path):
    """Growing log consumed across two AvailableNow runs sharing one
    checkpoint: batch 2 reads ONLY the new offsets (consumer-position
    semantics), union is complete and duplicate-free."""
    ev = read_table(spark, sf_dir, "events")

    def frames(lo, hi):
        return ev.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).select(
            F.col("event_id").alias("offset"),
            F.lit(None).cast("binary").alias("key"),
            F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
            .cast("binary")
            .alias("value"),
            F.col("ts").alias("timestamp"),
        )

    log = str(tmp_path / "log")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_segments(frames(0, 600), log, num_partitions=2, segment_rows=200)
    spark.dataSource.register(KafkaSegmentDataSource)
    sdf = spark.readStream.format("kafka_segments").option("path", log).load()

    def drain():
        q = (
            sdf.selectExpr("offset", "partition")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 600
    write_segments(frames(600, 1000), log, num_partitions=2, segment_rows=200)
    drain()
    result = spark.read.parquet(out)
    assert result.count() == 1000
    assert result.select("offset").distinct().count() == 1000


def test_stream_reader_latest_starting_offsets(spark, sf_dir, tmp_path):
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentStreamReader,
    )

    ev = read_table(spark, sf_dir, "events").limit(100)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=2)
    rdr = KafkaSegmentStreamReader({"path": log, "startingoffsets": "latest"})
    init = rdr.initialOffset()
    assert rdr.latestOffset() == init  # nothing beyond the log end yet
    splits = rdr.partitions(init, init)
    assert all(s.start >= s.end for s in splits)  # planned-empty batch


def test_stream_partitions_one_split_per_overlapping_segment(spark, sf_dir, tmp_path):
    """Executor-side streaming: a micro-batch's split count equals the
    number of segments overlapping [start, end) — the batch reader's
    per-segment fan-out, now per micro-batch (VERDICT r3 item 3)."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentStreamReader,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 600)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=2, segment_rows=200)
    n_segments = sum(
        1
        for p in os.listdir(log)
        if p.startswith("partition=")
        for s in os.listdir(os.path.join(log, p))
        if s.endswith(".parquet")
    )
    rdr = KafkaSegmentStreamReader({"path": log})
    start = rdr.initialOffset()
    end = rdr.latestOffset()
    splits = rdr.partitions(start, end)
    assert len(splits) == n_segments  # full-log batch: every segment, once
    # rows come back through the same executor-side Arrow read as batch
    total = sum(
        b.num_rows for s in splits for b in rdr.read(s)
    )
    assert total == 600


def test_writer_roundtrip_append_overwrite(spark, sf_dir, tmp_path):
    """Two-phase writer (A15 sink analog): staged segments publish
    atomically at commit; append accumulates, overwrite replaces."""
    log = str(tmp_path / "wlog")
    ev = read_table(spark, sf_dir, "events")
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct("event_id", "user_id", "event_type"))
        .cast("binary")
        .alias("value"),
        F.lit("tpch_events").alias("topic"),
        F.col("ts").alias("timestamp"),
    )
    n = raw.count()
    spark.dataSource.register(KafkaSegmentDataSource)
    w = raw.write.format("kafka_segments").option("path", log)
    w.option("numPartitions", "3").mode("append").save()

    back = spark.read.format("kafka_segments").option("path", log).load()
    assert back.count() == n
    assert back.select("offset").distinct().count() == n
    # no staging residue after commit
    assert not [e for e in os.listdir(log) if e.startswith(".staging-")]

    raw.withColumn("offset", F.col("offset") + 1_000_000).write.format(
        "kafka_segments"
    ).option("path", log).option("numPartitions", "3").mode("append").save()
    assert (
        spark.read.format("kafka_segments").option("path", log).load().count()
        == 2 * n
    )

    raw.limit(7).write.format("kafka_segments").option("path", log).option(
        "numPartitions", "2"
    ).mode("overwrite").save()
    assert (
        spark.read.format("kafka_segments").option("path", log).load().count() == 7
    )


def test_writer_bounded_buffer_rolls_row_groups(spark, sf_dir, tmp_path):
    """bufferRows bounds task memory: a small buffer produces multiple
    row groups per staged segment, the committed name still carries the
    partition's true MIN offset (even when it arrives late), and the
    round trip stays exact."""
    import pyarrow.parquet as pq

    log = str(tmp_path / "blog")
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    # reverse offset order within the task so the min arrives LAST
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.lit("tpch_events").alias("topic"),
        F.col("ts").alias("timestamp"),
    ).coalesce(1).sortWithinPartitions(F.col("offset").desc())
    spark.dataSource.register(KafkaSegmentDataSource)
    raw.write.format("kafka_segments").option("path", log).option(
        "numPartitions", "2"
    ).option("bufferRows", "50").mode("append").save()
    back = spark.read.format("kafka_segments").option("path", log).load()
    assert back.count() == 500
    assert back.select("offset").distinct().count() == 500
    for p in os.listdir(log):
        if not p.startswith("partition="):
            continue
        pdir = os.path.join(log, p)
        (fname,) = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        pid = int(p.split("=")[1])
        # committed name = true min offset for the partition (0 or 1)
        assert fname == f"segment-{pid}.parquet"
        meta = pq.read_metadata(os.path.join(pdir, fname))
        assert meta.num_row_groups >= 4  # 250 rows / 50-buffer
    # offset pushdown still prunes correctly on multi-row-group segments
    assert (
        back.filter((F.col("offset") >= 100) & (F.col("offset") < 200)).count()
        == 100
    )


def test_compact_segments_preserves_data(spark, sf_dir, tmp_path):
    """Compaction changes file boundaries only: same rows, same offsets,
    fewer segments; the streaming consumer position survives it."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import compact_segments

    log = str(tmp_path / "clog")
    ev = read_table(spark, sf_dir, "events")
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    def n_segment_files():
        # generations live in partition=N/gen-NNNNNN/ after a compaction
        return sum(
            1
            for _root, _dirs, files in os.walk(log)
            for f in files
            if f.startswith("segment-") and f.endswith(".parquet")
        )

    # tiny segments → many files
    write_segments(raw, log, num_partitions=2, segment_rows=50)
    spark.dataSource.register(KafkaSegmentDataSource)
    before = spark.read.format("kafka_segments").option("path", log).load()
    rows_before = sorted(r["offset"] for r in before.select("offset").collect())
    n_files_before = n_segment_files()

    report = compact_segments(log, target_rows=10_000)
    n_files_after = n_segment_files()
    assert n_files_after < n_files_before
    assert n_files_after == 2  # one compacted segment per partition
    assert all(b > a for b, a in report.values())

    after = spark.read.format("kafka_segments").option("path", log).load()
    rows_after = sorted(r["offset"] for r in after.select("offset").collect())
    assert rows_after == rows_before
    # offset pushdown still prunes on the compacted layout
    assert (
        after.filter((F.col("offset") >= 100) & (F.col("offset") < 200)).count()
        == before.filter((F.col("offset") >= 100) & (F.col("offset") < 200)).count()
    )


def test_compaction_publishes_atomically_via_generation_pointer(spark, sf_dir, tmp_path):
    """The swap is a single atomic pointer flip: after compaction every
    partition dir has a ``_CURRENT`` file naming the live generation; a
    second compaction bumps the generation; appends land in the live
    generation so a subsequent scan sees old+new."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        _resolve_partition_dir,
        compact_segments,
    )

    log = str(tmp_path / "glog")
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, log, num_partitions=2, segment_rows=50)
    compact_segments(log, target_rows=100)
    for p in os.listdir(log):
        if not p.startswith("partition="):
            continue
        pdir = os.path.join(log, p)
        assert os.path.exists(os.path.join(pdir, "_CURRENT"))
        cur = _resolve_partition_dir(pdir)
        assert os.path.basename(cur) == "gen-000001"
        assert any(f.startswith("segment-") for f in os.listdir(cur))
    # recompaction bumps the generation; the superseded one survives
    # the round-13 read grace (a planner mid-scan keeps its files),
    # then vacuum_log reclaims it on force-override
    from presto_rakam_kafka_spark.sources.kafka_datasource import vacuum_log

    compact_segments(log, target_rows=10_000)
    for p in os.listdir(log):
        if p.startswith("partition="):
            pdir = os.path.join(log, p)
            assert os.path.basename(_resolve_partition_dir(pdir)) == "gen-000002"
            assert os.path.isdir(os.path.join(pdir, "gen-000001"))
    vacuum_log(log, grace_s=0.0)
    for p in os.listdir(log):
        if p.startswith("partition="):
            pdir = os.path.join(log, p)
            assert not os.path.isdir(os.path.join(pdir, "gen-000001"))
    spark.dataSource.register(KafkaSegmentDataSource)
    assert (
        spark.read.format("kafka_segments").option("path", log).load().count()
        == 400
    )
    # append into the compacted log lands in the live generation
    raw2 = raw.withColumn("offset", F.col("offset") + 10_000)
    raw2.write.format("kafka_segments").option("path", log).option(
        "numPartitions", "2"
    ).mode("append").save()
    assert (
        spark.read.format("kafka_segments").option("path", log).load().count()
        == 800
    )


def test_append_collision_raises_instead_of_overwriting(spark, sf_dir, tmp_path):
    """Re-appending frames whose first offsets collide with committed
    segments must raise, not silently replace data (ADVICE r3)."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaLogLayoutError as KLE,
    )

    log = str(tmp_path / "alog")
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.lit("tpch_events").alias("topic"),
        F.col("ts").alias("timestamp"),
    )
    spark.dataSource.register(KafkaSegmentDataSource)
    w = raw.write.format("kafka_segments").option("path", log)
    w.option("numPartitions", "2").mode("append").save()
    n = spark.read.format("kafka_segments").option("path", log).load().count()
    with pytest.raises(Exception) as exc_info:
        w.option("numPartitions", "2").mode("append").save()
    assert "overwrite" in str(exc_info.value) or "KafkaLogLayout" in str(
        exc_info.value
    )
    # committed data unchanged, no staging residue
    assert (
        spark.read.format("kafka_segments").option("path", log).load().count() == n
    )
    assert not [e for e in os.listdir(log) if e.startswith(".staging-")]
    assert KLE is not None


def test_catalog_routes_native_source_with_pushdown(spark, sf_dir, log_dir):
    """catalog.table(..., offset_ranges=...) over a kafka_segments-backed
    table: the pushed range reaches the BatchScan (absent from any
    post-scan Filter) and the result matches the parquet ground truth."""
    from presto_rakam_kafka_spark.catalog import EventCatalog
    from presto_rakam_kafka_spark.metastore import InMemoryMetastore
    from presto_rakam_kafka_spark.plans.offset_pushdown import OffsetRange

    ms = InMemoryMetastore()
    catalog = EventCatalog(spark, ms)
    ev = read_table(spark, sf_dir, "events")
    ms.register_struct(
        "tpch",
        "events",
        ev.select("event_id", "user_id", "event_type", "value").schema,
    )
    catalog.register_kafka_segments("tpch", "events", log_dir)
    df = catalog.table(
        "tpch",
        "events",
        include_hidden=True,
        offset_ranges=[OffsetRange(100, 300)],
    )
    exp = ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 300))
    assert df.count() == exp.count()
    assert sorted(r["_offset"] for r in df.select("_offset").collect()) == sorted(
        r["event_id"] for r in exp.select("event_id").collect()
    )
    # hidden columns synthesized by the native path
    assert {"_offset", "project", "collection"} <= set(df.columns)
    # the pushed range must not re-evaluate post-scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan kafka_segments" in plan
    for ln in plan.splitlines():
        if "Filter" in ln and "Runtime" not in ln:
            assert ">= 100" not in ln and "< 300" not in ln, plan


def test_sub_split_reads_only_overlapping_row_groups(tmp_path, monkeypatch):
    """minSplits sub-splits must DIVIDE per-task IO: a split covering a
    slice of a segment reads only the row groups whose offset stats
    overlap its range, not the whole file (ADVICE r3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        OffsetSplit,
        _arrow_schema,
        _read_split_batches,
    )

    fpath = str(tmp_path / "segment-0.parquet")
    n = 1000
    table = pa.Table.from_pydict(
        {
            "partition": [0] * n,
            "offset": list(range(n)),
            "key": [None] * n,
            "value": [b"x"] * n,
            "topic": ["t"] * n,
            "timestamp": [None] * n,
        }
    ).cast(_arrow_schema())
    pq.write_table(table, fpath, row_group_size=100)  # 10 row groups
    assert pq.ParquetFile(fpath).metadata.num_row_groups == 10

    requested: list[list[int]] = []
    orig = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, **kw):
        requested.append(list(row_groups))
        return orig(self, row_groups, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    rows = [
        r
        for b in _read_split_batches(OffsetSplit(fpath, 0, 250, 450))
        for r in b.to_pylist()
    ]
    assert sorted(r["offset"] for r in rows) == list(range(250, 450))
    # offsets 250-449 live in row groups 2, 3, 4 — nothing else was read
    assert requested == [[2, 3, 4]]


def test_expire_segments_retention(spark, sf_dir, tmp_path):
    """Kafka-style retention: whole segments below the watermark are
    deleted, the straddling segment survives intact, and a streaming
    consumer whose position is above the watermark is unaffected."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentStreamReader,
        compact_segments,
        expire_segments,
    )

    log = str(tmp_path / "rlog")
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 600)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, log, num_partitions=2, segment_rows=100)
    spark.dataSource.register(KafkaSegmentDataSource)
    report = expire_segments(log, min_offset=250)
    assert sum(report.values()) >= 2  # whole low segments deleted
    remaining = spark.read.format("kafka_segments").option("path", log).load()
    offsets = sorted(r["offset"] for r in remaining.select("offset").collect())
    # every live (≥ watermark) offset survives — no silent under-scan
    assert [o for o in offsets if o >= 250] == list(range(250, 600))
    # the straddling segment keeps its below-watermark rows (Kafka model)
    assert min(offsets) < 250
    # consumer position beyond the watermark: stream plans only live rows
    rdr = KafkaSegmentStreamReader({"path": log})
    start = {"0": 300, "1": 300}
    end = rdr.latestOffset()
    n = sum(b.num_rows for s in rdr.partitions(start, end) for b in rdr.read(s))
    assert n == 300  # offsets 300..599
    # retention after compaction works on the live generation; an
    # everything-expired log has no segments and scans LOUDLY (A3), not
    # as silent zero rows
    compact_segments(log, target_rows=10_000)
    report2 = expire_segments(log, min_offset=10_000)
    assert all(n == 1 for n in report2.values())  # one compacted segment each
    with pytest.raises(Exception, match="no segment files"):
        spark.read.format("kafka_segments").option("path", log).load().count()


def test_catalog_stream_routes_native_source(spark, sf_dir, log_dir):
    """catalog.stream(...) over a kafka_segments-backed table: the
    streaming decode path end-to-end, AvailableNow-drained, equals the
    batch ground truth."""
    from presto_rakam_kafka_spark.catalog import EventCatalog, TableNotFoundError
    from presto_rakam_kafka_spark.metastore import InMemoryMetastore

    ms = InMemoryMetastore()
    catalog = EventCatalog(spark, ms)
    ev = read_table(spark, sf_dir, "events")
    ms.register_struct(
        "tpch",
        "events",
        ev.select("event_id", "user_id", "event_type", "value").schema,
    )
    catalog.register_kafka_segments("tpch", "events", log_dir)
    sdf = catalog.stream("tpch", "events", include_hidden=True)
    assert sdf.isStreaming
    assert {"_offset", "project", "collection"} <= set(sdf.columns)
    from presto_rakam_kafka_spark.streaming.runner import run_available_now

    agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    got = {
        r["event_type"]: r["n"]
        for r in run_available_now(agg, "catalog_stream_t", "complete").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    # a parquet-backed table has no stream(): loud error, not a hang
    catalog.register_parquet("tpch", "orders", f"{sf_dir}/orders.parquet")
    ms.register_struct("tpch", "orders", read_table(spark, sf_dir, "orders").schema)
    import pytest as _pytest

    with _pytest.raises(TableNotFoundError):
        catalog.stream("tpch", "orders")


def test_pushed_offset_range_leaves_no_post_scan_range_filter(spark, log_dir):
    """Catalyst plan check: after pushFilters consumes the offset range,
    the executed plan's post-scan Filter holds only the residual
    isnotnull guard — the range itself never re-evaluates per row."""
    df = (
        spark.read.format("kafka_segments")
        .option("path", log_dir)
        .load()
        .filter((F.col("offset") >= 100) & (F.col("offset") < 300))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan kafka_segments" in plan
    post_scan_filter = [
        ln for ln in plan.splitlines() if "Filter" in ln and "Runtime" not in ln
    ]
    for ln in post_scan_filter:
        assert ">= 100" not in ln and "< 300" not in ln, plan


def test_stream_reader_max_rows_per_batch(spark, sf_dir, tmp_path):
    """A8 size-bounded micro-batches: maxRowsPerBatch splits the backlog
    into multiple batches instead of one giant catch-up read; the union
    is still complete and exactly-once."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentStreamReader,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 600)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=2, segment_rows=200)

    # reader-level check: each planned batch advances by ≤ maxRows rows
    # (the span budget is calibrated by measured rows-per-offset density,
    # so a modulo-strided log still fills ~maxRows per batch — ADVICE r3)
    rdr = KafkaSegmentStreamReader({"path": log, "maxRowsPerBatch": "100"})
    pos = rdr.initialOffset()
    batches = 0
    total = 0
    while batches < 50:
        nxt = rdr.latestOffset()
        if nxt == pos:
            break
        n_rows = sum(
            b.num_rows for s in rdr.partitions(pos, nxt) for b in rdr.read(s)
        )
        assert n_rows <= 100
        assert n_rows >= 50  # calibration: batches actually FILL, not
        # the ~maxRows/numPartitions under-fill of the raw span bound
        total += n_rows
        pos = nxt
        batches += 1
    assert total == 600
    assert batches >= 6  # 600 rows / 100-cap → at least 6 micro-batches

    # End-to-end: every batch is capped by the rate-limit ratchet — the
    # consumer-position model under a fetch bound (Kafka's
    # maxOffsetsPerTrigger analog), exactly-once across restarts. Each
    # AvailableNow trigger takes one bounded batch (Python stream
    # sources fall back to single-batch execution), and the restart path
    # exercises the WAL-replay re-seeding that keeps the bound from
    # regressing a committed position.
    spark.dataSource.register(KafkaSegmentDataSource)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdf = (
        spark.readStream.format("kafka_segments")
        .option("path", log)
        .option("maxRowsPerBatch", "100")
        .load()
        .selectExpr("offset")
    )
    counts = []
    for _ in range(20):
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n = spark.read.parquet(out).count()
        if counts and n == counts[-1]:
            break
        assert n - (counts[-1] if counts else 0) <= 100  # bounded batch
        counts.append(n)
    result = spark.read.parquet(out)
    assert result.count() == 600
    assert result.distinct().count() == 600
    assert len(counts) >= 6  # the cap forced multiple bounded triggers


def test_catalog_native_avro_scan_pushdown_and_evolution(spark, sf_dir):
    """The reference's production scan shape (offset pruning + Avro
    decode in ONE scan, `KafkaConnectorPageSource.java:82-123` +
    `KafkaSplitManager.java:153-178`): the pushed range must be consumed
    by the BatchScan (absent from every post-scan Filter), the v1→evolved
    decode must resolve aliases/promotion/enum/default, and the result
    must equal the parquet ground truth over the same range."""
    from presto_rakam_kafka_spark import queries_dsv2 as qd
    from presto_rakam_kafka_spark.catalog import EventCatalog
    from presto_rakam_kafka_spark.metastore import InMemoryMetastore
    from presto_rakam_kafka_spark.plans.offset_pushdown import OffsetRange

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    log_dir = qd._avro_segment_log_dir(spark, sf_dir)
    ms = InMemoryMetastore()
    catalog = EventCatalog(spark, ms)
    ms.register("tpch", "events", qd._avro_reader_fields())
    catalog.register_kafka_segments(
        "tpch",
        "events",
        log_dir,
        value_format="avro",
        avro_writer_schema=qd._AVRO_WRITER_V1,
    )
    df = catalog.table(
        "tpch", "events", include_hidden=True, offset_ranges=[OffsetRange(100, 300)]
    )
    ev = read_table(spark, sf_dir, "events")
    exp = ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 300))
    # evolution surface: renamed+promoted user_id, reader-only default
    assert dict(df.dtypes)["user_id"] == "bigint"
    assert "missing_col" in df.columns and "legacy" not in df.columns
    rows = df.select("_offset", "user_id", "priority", "missing_col").collect()
    assert sorted(r["_offset"] for r in rows) == sorted(
        r["event_id"] for r in exp.select("event_id").collect()
    )
    assert all(r["missing_col"] is None for r in rows)
    assert all(r["priority"] in ("LOW", "HIGH") for r in rows)
    exp_users = {
        r["event_id"]: r["user_id"] for r in exp.select("event_id", "user_id").collect()
    }
    assert all(exp_users[r["_offset"]] == r["user_id"] for r in rows)
    # the pushed range is consumed at plan time, not re-filtered post-scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan kafka_segments" in plan
    for ln in plan.splitlines():
        if "Filter" in ln and "Runtime" not in ln:
            assert ">= 100" not in ln and "< 300" not in ln, plan


def test_catalog_avro_all_corrupt_segment_with_timestamp_field(spark, tmp_path):
    """A14 on the pure-Python Avro decode: one segment whose 40
    payloads are all corrupt scans to zero rows without an error, also
    when the table has a TIMESTAMP field (a batch that decodes nothing
    must not reach Arrow as untyped float64 columns)."""
    from pyspark.sql import types as T

    from presto_rakam_kafka_spark.catalog import EventCatalog
    from presto_rakam_kafka_spark.metastore import InMemoryMetastore
    from presto_rakam_kafka_spark.sources.kafka_datasource import write_segments

    raw = spark.createDataFrame(
        [(i, None, b"\xff\xff\xff\xff\xff", None) for i in range(40)],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log = str(tmp_path / "corrupt_avro")
    write_segments(raw, log, num_partitions=1, segment_rows=0)
    assert len(os.listdir(os.path.join(log, "partition=0"))) == 1
    ms = InMemoryMetastore()
    catalog = EventCatalog(spark, ms)
    ms.register_struct("t", "ev", T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]))
    catalog.register_kafka_segments("t", "ev", log, value_format="avro")
    assert catalog.table("t", "ev").collect() == []


def test_ts_pushdown_prunes_segments(spark, sf_dir, log_dir):
    """A timestamp bound must prune whole segments at PLAN time via
    footer ts stats (the `offsetsForTimes` analog), while the filter
    itself returns to Spark for exact row evaluation."""
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual as GTE

    full = KafkaSegmentReader({"path": log_dir})
    n_all = len(full.partitions())

    r = KafkaSegmentReader({"path": log_dir})
    cut = dt.datetime(2024, 1, 20)
    remaining = r.pushFilters([GTE(("timestamp",), cut)])
    # ts filters are NOT consumed — rows in surviving segments still
    # need exact evaluation.
    assert len(remaining) == 1
    pruned = r.partitions()
    assert 0 < len(pruned) < n_all, (len(pruned), n_all)
    # Every surviving segment really can contain qualifying rows.
    from presto_rakam_kafka_spark.sources.kafka_datasource import _segment_ts_meta

    for sp in pruned:
        _, hi = _segment_ts_meta(sp.path)
        assert hi is None or hi >= cut
    # And no qualifying row was lost: scan both ways and compare.
    df = spark.read.format("kafka_segments").option("path", log_dir).load()
    n_exact = df.filter(F.col("timestamp") >= F.lit("2024-01-20").cast("timestamp")).count()
    n_expected = read_table(spark, sf_dir, "events").filter(
        F.col("ts") >= F.lit("2024-01-20").cast("timestamp")
    ).count()
    assert n_exact == n_expected


def test_ts_pushdown_fully_pruned_is_empty_not_error(log_dir):
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual as GTE

    r = KafkaSegmentReader({"path": log_dir})
    r.pushFilters([GTE(("timestamp",), dt.datetime(2031, 1, 1))])
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].start == parts[0].end == 0


def test_offsets_for_times_resolves_earliest_offset(spark, sf_dir, log_dir):
    """offsets_for_times = the consumer API that turns an event time
    into a per-partition seek offset; must equal the brute-force min
    over the raw frames."""
    import datetime as dt

    from presto_rakam_kafka_spark.sources.kafka_datasource import offsets_for_times

    cut = dt.datetime(2024, 1, 20)
    got = offsets_for_times(log_dir, cut)
    df = spark.read.format("kafka_segments").option("path", log_dir).load()
    exp_rows = (
        df.filter(F.col("timestamp") >= F.lit("2024-01-20").cast("timestamp"))
        .groupBy("partition")
        .agg(F.min("offset").alias("o"))
        .collect()
    )
    exp = {r["partition"]: r["o"] for r in exp_rows}
    for pid, off in got.items():
        assert exp.get(pid, None) == off, (pid, off, exp.get(pid))


def test_compact_log_by_key_latest_per_key_and_tombstones(spark, tmp_path):
    """Kafka log compaction semantics (round 7): latest record per key
    survives with its ORIGINAL offset (gaps appear), a key whose latest
    record is a tombstone is deleted (kept with retain_tombstones=True),
    null-key logs are rejected, and offset pushdown still scans the
    gapped log correctly."""
    import pytest

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaLogLayoutError,
        compact_log_by_key,
        write_segments,
    )

    # 4 keys x several updates; key D's LAST record is a tombstone,
    # key C has a tombstone that is later OVERWRITTEN (must survive).
    frames = [
        (0, b"A", b"a1"), (1, b"B", b"b1"), (2, b"A", b"a2"),
        (3, b"C", None), (4, b"D", b"d1"), (5, b"C", b"c2"),
        (6, b"B", b"b2"), (7, b"D", None), (8, b"A", b"a3"),
    ]
    raw = spark.createDataFrame(
        [(o, k, v, None) for o, k, v in frames],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log = str(tmp_path / "kclog")
    write_segments(raw, log, num_partitions=2, segment_rows=2, route_by_key=True)

    report = compact_log_by_key(log)
    assert sum(b for b, _ in report.values()) == 9
    assert sum(a for _, a in report.values()) == 3  # A,B,C; D deleted

    spark.dataSource.register(KafkaSegmentDataSource)
    back = spark.read.format("kafka_segments").option("path", log).load()
    got = {
        bytes(r["key"]): (r["offset"], bytes(r["value"]))
        for r in back.collect()
    }
    assert got == {b"A": (8, b"a3"), b"B": (6, b"b2"), b"C": (5, b"c2")}
    # pushdown over the gapped offsets: only offsets 5,6 fall in [5, 8)
    assert (
        back.filter((F.col("offset") >= 5) & (F.col("offset") < 8)).count() == 2
    )

    # retain_tombstones keeps D's delete marker (Kafka delete.retention)
    log2 = str(tmp_path / "kclog2")
    write_segments(raw, log2, num_partitions=2, segment_rows=2, route_by_key=True)
    compact_log_by_key(log2, retain_tombstones=True)
    back2 = spark.read.format("kafka_segments").option("path", log2).load()
    rows2 = {bytes(r["key"]): r["value"] for r in back2.collect()}
    assert set(rows2) == {b"A", b"B", b"C", b"D"}
    assert rows2[b"D"] is None

    # idempotence: compacting a compacted log changes nothing but the
    # generation number
    report2 = compact_log_by_key(log)
    assert all(b == a for b, a in report2.values())

    # null-key logs are rejected loudly (both at write and at compact)
    raw_nullkey = spark.createDataFrame(
        [(0, None, b"x", None)],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log3 = str(tmp_path / "kclog3")
    with pytest.raises(KafkaLogLayoutError, match="route_by_key"):
        write_segments(raw_nullkey, log3, route_by_key=True)
    write_segments(raw_nullkey, log3)  # offset-routed write is fine
    with pytest.raises(KafkaLogLayoutError, match="null-key"):
        compact_log_by_key(log3)


def test_purge_keys_erases_and_preserves_offsets(spark, tmp_path):
    """GDPR erasure (round 7): purged keys vanish from every partition,
    all other frames keep exact offsets (gaps appear), untouched
    segments are NOT rewritten (erasure cost ∝ key locality), and
    publication is the atomic generation flip — a second purge of the
    same keys is a no-op."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        purge_keys,
        write_segments,
    )

    # keys A/B/C spread over offsets; segment_rows=2 → several segments
    frames = [
        (i, [b"A", b"B", b"C"][i % 3], f"v{i}".encode()) for i in range(12)
    ]
    raw = spark.createDataFrame(
        [(o, k, v, None) for o, k, v in frames],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log = str(tmp_path / "purgelog")
    write_segments(raw, log, num_partitions=2, segment_rows=2, route_by_key=True)

    import glob

    def seg_files():
        return sorted(glob.glob(os.path.join(log, "partition=*", "**", "*.parquet"),
                                recursive=True))

    before = seg_files()
    report = purge_keys(log, [b"B"])
    assert sum(report.values()) == 4  # offsets 1,4,7,10
    spark.dataSource.register(KafkaSegmentDataSource)
    back = spark.read.format("kafka_segments").option("path", log).load()
    rows = {(r["offset"], bytes(r["key"])) for r in back.collect()}
    assert {k for _, k in rows} == {b"A", b"C"}
    assert {o for o, _ in rows} == {0, 2, 3, 5, 6, 8, 9, 11}
    # key-routed log: B lives in ONE partition; the other is untouched
    # (same files, same generation dir)
    after = seg_files()
    untouched = set(before) & set(after)
    assert untouched, (before, after)

    # purging an absent key is a no-op (no rewrite at all)
    snapshot = seg_files()
    report2 = purge_keys(log, [b"B"])
    assert sum(report2.values()) == 0
    assert seg_files() == snapshot


def test_compact_log_by_key_spark_equals_pyarrow_form(spark, tmp_path):
    """The distributed compaction (Spark job per partition, max_by
    combiners, footer-stat renames) must produce the SAME read view as
    the driver-pyarrow form: same survivors, same offsets, same
    tombstone handling; and the planner accepts the renamed files."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        compact_log_by_key,
        compact_log_by_key_spark,
        write_segments,
    )

    frames = [
        (i, f"k{i % 5}".encode(), None if i in (13, 14) else f"v{i}".encode())
        for i in range(15)
    ]
    raw = spark.createDataFrame(
        [(o, k, v, None) for o, k, v in frames],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    spark.dataSource.register(KafkaSegmentDataSource)

    def read_view(log):
        df = spark.read.format("kafka_segments").option("path", log).load()
        return sorted(
            (r["offset"], bytes(r["key"]), None if r["value"] is None else bytes(r["value"]))
            for r in df.collect()
        )

    log_a = str(tmp_path / "pya")
    log_b = str(tmp_path / "spk")
    for log in (log_a, log_b):
        write_segments(raw, log, num_partitions=2, segment_rows=3, route_by_key=True)
    rep_a = compact_log_by_key(log_a)
    rep_b = compact_log_by_key_spark(spark, log_b, target_rows=2)
    assert rep_a == rep_b
    assert read_view(log_a) == read_view(log_b)
    # offsets 13/14 were tombstones for their keys: those keys gone
    keys = {k for _, k, _ in read_view(log_b)}
    assert b"k3" not in keys and b"k4" not in keys
    # small target_rows -> multiple renamed segment files, all planner-valid
    import glob

    segs = glob.glob(os.path.join(log_b, "partition=*", "gen-*", "segment-*.parquet"))
    assert len(segs) >= 2


def test_compact_validates_all_partitions_before_any_flip(spark, tmp_path):
    """Null-key validation is atomic (round 8, ADVICE): a log whose
    partition 1 carries a null-key frame fails compaction BEFORE any
    partition is rewritten — partition 0 keeps its original layout (no
    generation dir, no pointer), for BOTH the pyarrow and the Spark
    forms. The r7 in-loop check had already compacted and published
    partitions 0..K-1 when partition K raised."""
    import glob

    import pytest

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaLogLayoutError,
        compact_log_by_key,
        compact_log_by_key_spark,
        write_segments,
    )

    # offset routing (offset % 2): even offsets -> partition 0 (all
    # keyed), odd offsets -> partition 1 (one null key)
    frames = [
        (0, b"A", b"a1"), (2, b"A", b"a2"), (4, b"B", b"b1"),
        (1, b"C", b"c1"), (3, None, b"x"), (5, b"C", b"c2"),
    ]
    raw = spark.createDataFrame(
        [(o, k, v, None) for o, k, v in frames],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )

    for fn, tag in ((compact_log_by_key, "pa"), (
        lambda p: compact_log_by_key_spark(spark, p), "spark",
    )):
        log = str(tmp_path / f"atomic_{tag}")
        write_segments(raw, log, num_partitions=2, segment_rows=2)
        p0 = os.path.join(log, "partition=0")
        before = sorted(glob.glob(os.path.join(p0, "**", "*"), recursive=True))
        with pytest.raises(KafkaLogLayoutError, match="null-key"):
            fn(log)
        after = sorted(glob.glob(os.path.join(p0, "**", "*"), recursive=True))
        assert after == before, tag  # partition 0 untouched: atomic failure


def test_key_lookup_bloom_prunes_segments(spark, tmp_path):
    """Point-lookup contract (round 8): latest record per key with
    tombstone semantics, newest-first early stop, and the bloom
    sidecar actually PRUNES — a one-key lookup over a many-segment
    partition reads a small fraction of the segments, skipping most
    via the bloom; without blooms the result is identical (index is an
    optimization, never a correctness dependency); and compaction's
    new generation atomically orphans stale blooms."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        build_key_blooms,
        compact_log_by_key,
        lookup_latest,
        write_segments,
    )

    # 200 keys x 5 updates each; key b"77" updated at offsets 77, 277,
    # ..., 877 (latest 877); key b"50"'s LAST record is a tombstone
    frames = []
    for rnd in range(5):
        for k in range(200):
            off = rnd * 200 + k
            val = None if (k == 50 and rnd == 4) else f"v{off}".encode()
            frames.append((off, str(k).encode(), val))
    raw = spark.createDataFrame(
        [(o, k, v, None) for o, k, v in frames],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log = str(tmp_path / "ptlog")
    write_segments(raw, log, num_partitions=4, segment_rows=20,
                   route_by_key=True)

    # no blooms yet: correctness holds by scanning
    hits, stats0 = lookup_latest(log, [b"77", b"50", b"999"], num_partitions=4)
    assert hits[b"77"] == (877, b"v877")
    assert hits[b"50"] == (850, None)       # latest is the tombstone
    assert b"999" not in hits               # never written
    assert stats0["segments_bloom_skipped"] == 0

    report = build_key_blooms(log)
    assert sum(report.values()) >= 20  # many segments indexed

    hits2, stats = lookup_latest(log, [b"77", b"50", b"999"], num_partitions=4)
    assert hits2 == hits
    assert stats["segments_bloom_skipped"] > 0
    # the two found keys early-stop newest-first; the absent key walks
    # its partition but blooms skip nearly everything: reads stay a
    # small fraction of that partition's segments
    assert stats["segments_read"] <= 8, stats

    # the index is PER-SEGMENT and lazily loaded: a lookup reads only
    # the sidecars of segments its walk consults, never the whole
    # partition index (the r8 monolithic-JSON regression)
    import glob as _glob

    total_index = sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(log, "partition=*", ".segment-*.bloom"))
    )
    assert stats["blooms_read"] < stats["segments_total"]
    assert 0 < stats["index_bytes_read"] < total_index
    # one hot (recently-updated) key: ~1 bloom read, early-stop included
    _h, s77 = lookup_latest(log, [b"77"], num_partitions=4)
    assert s77["blooms_read"] <= 3 and s77["segments_read"] == 1, s77
    # the retired monolithic sidecar is never written
    assert not _glob.glob(os.path.join(log, "partition=*", "_KEYBLOOMS.json"))

    # compaction publishes a new generation -> stale blooms orphaned;
    # lookup still correct (falls back to scanning the new generation)
    compact_log_by_key(log, retain_tombstones=False)
    hits3, stats3 = lookup_latest(log, [b"77", b"50"], num_partitions=4)
    assert hits3 == {b"77": (877, b"v877")}  # 50 deleted by compaction
    assert stats3["segments_bloom_skipped"] == 0  # no index in new gen
    build_key_blooms(log)
    hits4, stats4 = lookup_latest(log, [b"77"], num_partitions=4)
    assert hits4 == {b"77": (877, b"v877")}
    assert stats4["segments_read"] <= 2


def test_build_key_blooms_spark_equals_pyarrow_form(spark, tmp_path):
    """The distributed bloom builder (one key-column scan + per-file
    Arrow groups) must publish byte-identical sidecars to the driver-
    pyarrow form — same m sizing, same seeded hash family — and the
    point lookup must prune identically through either."""
    import json
    import os

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        build_key_blooms,
        build_key_blooms_spark,
        lookup_latest,
        write_segments,
    )

    frames = [(o, str(o % 37).encode(), f"v{o}".encode()) for o in range(300)]
    raw = spark.createDataFrame(
        [(o, k, v, None) for o, k, v in frames],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log = str(tmp_path / "bloomlog")
    write_segments(raw, log, num_partitions=2, segment_rows=25,
                   route_by_key=True)

    import glob as _glob

    def sidecars():
        out = {}
        for f in sorted(
            _glob.glob(os.path.join(log, "partition=*", ".segment-*.bloom"))
        ):
            out[os.path.relpath(f, log)] = open(f, "rb").read()
        return out

    r1 = build_key_blooms(log)
    pa_side = sidecars()
    r2 = build_key_blooms_spark(spark, log)
    sp_side = sidecars()
    assert r1 == r2
    assert sp_side == pa_side

    # key "5" appears at offsets 5, 42, ..., 264 (5 + 37k ≤ 299); with
    # only 37 keys every segment holds most of them, so the newest-first
    # walk finds it in the FIRST segment it reads (early stop — bloom
    # skips are exercised by test_key_lookup_bloom_prunes_segments)
    hits, stats = lookup_latest(log, [b"5"], num_partitions=2)
    assert hits[b"5"] == (264, b"v264")
    assert stats["segments_read"] == 1


def test_lookup_latest_spark_equals_driver_form(spark, tmp_path):
    """The distributed point read (key-TABLE enrichment shape) must
    return exactly the driver form's results — same routing, same
    newest-first bloom walk per partition, tombstone => NULL value row,
    absent key => no row — and a num_partitions that disagrees with
    the layout must RAISE, not silently lose keys."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaLogLayoutError,
        build_key_blooms,
        lookup_latest,
        lookup_latest_spark,
        write_segments,
    )

    frames = []
    for rnd in range(4):
        for k in range(60):
            off = rnd * 60 + k
            val = None if (k == 7 and rnd == 3) else f"v{off}".encode()
            frames.append((off, str(k).encode(), val))
    raw = spark.createDataFrame(
        [(o, k, v, None) for o, k, v in frames],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log = str(tmp_path / "sparklookup")
    write_segments(raw, log, num_partitions=3, segment_rows=15,
                   route_by_key=True)
    build_key_blooms(log)

    keys = [str(k).encode() for k in range(0, 70, 7)]  # incl. absent 63
    driver, _stats = lookup_latest(log, keys, num_partitions=3)
    got = {
        bytes(r["key"]): (r["offset"], None if r["value"] is None else bytes(r["value"]))
        for r in lookup_latest_spark(spark, log, keys, num_partitions=3).collect()
    }
    assert got == driver
    assert got[b"7"] == (187, None)      # tombstone row, value NULL
    assert b"63" not in got              # absent key: no row

    # a DataFrame of keys routes identically
    kdf = spark.createDataFrame([(k,) for k in keys], "key BINARY")
    got2 = {
        bytes(r["key"]): (r["offset"], None if r["value"] is None else bytes(r["value"]))
        for r in lookup_latest_spark(spark, log, kdf).collect()
    }
    assert got2 == driver

    # layout-mismatched partition count fails loudly (driver AND spark)
    import pytest

    with pytest.raises(KafkaLogLayoutError, match="partition layout"):
        lookup_latest(log, keys, num_partitions=5)
    with pytest.raises(KafkaLogLayoutError, match="partition layout"):
        lookup_latest_spark(spark, log, keys, num_partitions=2)


def test_update_key_blooms_incremental_equals_rebuild(spark, tmp_path):
    """Incremental index upkeep: after appending new segments, updating
    the sidecar indexes ONLY the new files and the result is
    byte-identical to a from-scratch rebuild; lookups through the
    updated index find the appended keys' latest records."""
    import json
    import os

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        build_key_blooms,
        lookup_latest,
        update_key_blooms,
        write_segments,
    )

    def mk(lo, hi):
        frames = [(o, str(o % 11).encode(), f"v{o}".encode()) for o in range(lo, hi)]
        return spark.createDataFrame(
            [(o, k, v, None) for o, k, v in frames],
            "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
        )

    log = str(tmp_path / "incrlog")
    write_segments(mk(0, 100), log, num_partitions=2, segment_rows=10,
                   route_by_key=True)
    build_key_blooms(log)

    # append a second batch as NEW segments (offset-disjoint); the
    # fixture writer lays files side by side in the same partition dirs
    import glob
    import shutil

    tmp2 = str(tmp_path / "incrlog2")
    write_segments(mk(100, 160), tmp2, num_partitions=2, segment_rows=10,
                   route_by_key=True)
    for pdir in ("partition=0", "partition=1"):
        for f in glob.glob(os.path.join(tmp2, pdir, "segment-*.parquet")):
            shutil.copy(f, os.path.join(log, pdir, os.path.basename(f)))

    rep = update_key_blooms(log)
    assert sum(rep.values()) > 0  # only the new files were indexed

    def sidecars():
        return {
            os.path.relpath(f, log): open(f, "rb").read()
            for f in glob.glob(
                os.path.join(log, "partition=*", ".segment-*.bloom")
            )
        }

    incremental = sidecars()
    build_key_blooms(log)  # from-scratch rebuild
    assert sidecars() == incremental

    hits, stats = lookup_latest(log, [b"3"], num_partitions=2)
    # key "3": offsets o % 11 == 3 → max in [0,160) is 157
    assert hits[b"3"] == (157, b"v157")
    assert stats["segments_read"] == 1  # newest-first early stop


def test_writer_maintains_bloom_index_on_commit(spark, tmp_path):
    """maintainBlooms=true: every append commit incrementally indexes
    the segments it just published (O(new segments) — update_key_blooms
    through the writer), so point reads on a continuously-written log
    never degrade to scans; a second append only indexes its own new
    files, and the sidecars equal a from-scratch rebuild."""
    import glob

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentDataSource,
        build_key_blooms,
        lookup_latest,
    )

    spark.dataSource.register(KafkaSegmentDataSource)
    log = str(tmp_path / "autoblooms")

    def frames(lo, hi):
        return spark.createDataFrame(
            [(o, str(o % 9).encode(), f"v{o}".encode(), None)
             for o in range(lo, hi)],
            "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
        )

    (
        frames(0, 60).coalesce(1).write.format("kafka_segments")
        .option("path", log).option("numPartitions", "2")
        .option("maintainBlooms", "true").mode("append").save()
    )
    sidecars = sorted(
        glob.glob(os.path.join(log, "partition=*", ".segment-*.bloom"))
    )
    assert sidecars, "commit did not build the index"
    # the DSv2 writer is OFFSET-routed and records it in _ROUTING.json:
    # the lookup autodetects and walks every partition, so the
    # cross-partition latest record wins (a key-routed lookup here
    # would silently serve the stale in-partition hit)
    hits, stats = lookup_latest(log, [b"4"], num_partitions=2)
    assert hits[b"4"] == (58, b"v58")
    assert stats["blooms_read"] > 0  # served through the index

    (
        frames(60, 90).coalesce(1).write.format("kafka_segments")
        .option("path", log).option("numPartitions", "2")
        .option("maintainBlooms", "true").mode("append").save()
    )
    def all_sidecars():
        return {
            f: open(f, "rb").read()
            for f in glob.glob(
                os.path.join(log, "partition=*", ".segment-*.bloom")
            )
        }

    incremental = all_sidecars()
    assert len(incremental) > len(sidecars)
    hits2, _ = lookup_latest(log, [b"4"], num_partitions=2)
    assert hits2[b"4"] == (85, b"v85")
    build_key_blooms(log)  # from-scratch rebuild must be byte-identical
    assert all_sidecars() == incremental

    # the distributed form autodetects the offset routing too and merges
    # the max-offset hit across partitions
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        lookup_latest_spark,
    )

    got = {
        bytes(r["key"]): (r["offset"],
                          None if r["value"] is None else bytes(r["value"]))
        for r in lookup_latest_spark(
            spark, log, [b"4", b"7"], num_partitions=2
        ).collect()
    }
    driver, _s = lookup_latest(log, [b"4", b"7"], num_partitions=2)
    assert got == driver and got[b"4"] == (85, b"v85")


def test_lookup_history_reads_only_bloom_positive_segments(spark, tmp_path):
    """History read contract: every occurrence of the key is returned
    in offset order (tombstones as None), and segments the bloom rules
    out are never opened — for a key in k of N segments, data reads ≈ k
    (+ the documented FPR slack), never N."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        build_key_blooms,
        lookup_history,
        write_segments,
    )

    # key "7" appears ONLY in rounds 0 and 4 (offsets 7 and 807);
    # its round-4 record is a tombstone
    frames = []
    for rnd in range(5):
        for k in range(200):
            if k == 7 and rnd not in (0, 4):
                continue
            off = rnd * 200 + k
            val = None if (k == 7 and rnd == 4) else f"v{off}".encode()
            frames.append((off, str(k).encode(), val))
    raw = spark.createDataFrame(
        [(o, k, v, None) for o, k, v in frames],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log = str(tmp_path / "histlog")
    write_segments(raw, log, num_partitions=4, segment_rows=20,
                   route_by_key=True)
    build_key_blooms(log)

    hist, stats = lookup_history(log, [b"7"])
    assert hist[b"7"] == [(7, b"v7"), (807, None)]
    # the key's partition holds 12 segments; "7" lives in 2. Bloom FPs
    # are DETERMINISTIC per (key, key-set): this fixture's segments
    # recycle the same ~47 keys every round, so one unlucky collision
    # repeats across the similar segments (measured: 3 of 10 absent
    # segments say maybe for this key) — the ~0.24% figure is the
    # average over keys, not a per-key bound. The pruning claim is that
    # reads ≪ segments, and skipped + read == the partition's total.
    assert stats["segments_read"] <= 6, stats
    assert stats["segments_bloom_skipped"] >= 5, stats
    assert (
        stats["segments_read"] + stats["segments_bloom_skipped"] == 12
    ), stats


def test_unmarked_log_defaults_to_conservative_offset_walk(spark, tmp_path):
    """Legacy logs (written before _ROUTING.json existed) carry no
    routing record. Defaulting them to keyed routing would silently
    serve stale/absent records when the log was actually offset-routed
    (ADVICE r9) — so unmarked logs must take the all-partitions offset
    walk, which is correct for BOTH layouts."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        _ROUTING,
        build_key_blooms,
        lookup_latest,
        write_segments,
    )

    # an offset-routed log: key "4"'s records land in BOTH partitions
    raw = spark.createDataFrame(
        [(o, str(o % 9).encode(), f"v{o}".encode(), None)
         for o in range(60)],
        "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP",
    )
    log = str(tmp_path / "legacy_offsetlog")
    write_segments(raw, log, num_partitions=2, segment_rows=10)
    build_key_blooms(log)
    os.remove(os.path.join(log, _ROUTING))  # simulate a pre-routing log

    hits, stats = lookup_latest(log, [b"4"], num_partitions=2)
    # keyed routing would consult only md5("4")'s partition and serve a
    # stale hit; the conservative default walks both and finds 58
    assert hits[b"4"] == (58, b"v58")
    assert stats["segments_read"] >= 1


def test_lookup_history_spark_equals_driver_form(spark, tmp_path):
    """Distributed history read (VERDICT r9 next-3): row-equal to the
    driver form — every occurrence, offset included, tombstones as
    NULL values, absent keys absent — on BOTH routings (keyed log:
    keys route in the plan; offset-routed: every partition's walk
    unions). DataFrame key input works without collecting keys."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        build_key_blooms,
        lookup_history,
        lookup_history_spark,
        write_segments,
    )

    def frames():
        rows = []
        for rnd in range(4):
            for k in range(50):
                off = rnd * 50 + k
                val = None if (k % 7 == 0 and rnd == 3) else f"v{off}".encode()
                rows.append((off, str(k % 13).encode(), val, None))
        return spark.createDataFrame(
            rows, "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP"
        )

    probe = [b"7", b"0", b"12", b"999"]  # present x3 + absent
    for route_by_key in (True, False):
        log = str(tmp_path / f"histlog_{int(route_by_key)}")
        write_segments(frames(), log, num_partitions=3, segment_rows=20,
                       route_by_key=route_by_key)
        build_key_blooms(log)
        driver, _stats = lookup_history(log, probe, num_partitions=3)
        got: dict = {}
        for r in lookup_history_spark(
            spark, log, probe, num_partitions=3
        ).collect():
            got.setdefault(bytes(r["key"]), []).append(
                (r["offset"], None if r["value"] is None else bytes(r["value"]))
            )
        for k in got:
            got[k].sort(key=lambda t: t[0])
        assert got == driver, route_by_key
        assert b"999" not in got
        # tombstones survive the round trip as None values
        assert any(v is None for v in dict(got[b"7"]).values())

        # DataFrame key input: same result, keys never collected
        kdf = spark.createDataFrame([(k,) for k in probe], "key BINARY")
        got2 = {}
        for r in lookup_history_spark(spark, log, kdf,
                                      num_partitions=3).collect():
            got2.setdefault(bytes(r["key"]), []).append(
                (r["offset"], None if r["value"] is None else bytes(r["value"]))
            )
        for k in got2:
            got2[k].sort(key=lambda t: t[0])
        assert got2 == driver

    # stats surface: segment reads proportional to bloom-positive
    # segments, never the whole log
    log = str(tmp_path / "histlog_1")
    st = (
        lookup_history_spark(spark, log, [b"7"], num_partitions=3,
                             with_stats=True)
        .select("pid", "segments_read").distinct().collect()
    )
    total_segments = sum(
        1 for p in range(3)
        for f in os.listdir(os.path.join(log, f"partition={p}"))
        if f.startswith("segment-") and f.endswith(".parquet")
    )
    read = sum(r["segments_read"] for r in st)
    assert 0 < read < total_segments, (read, total_segments)


@pytest.mark.parametrize("width", [1, 4, 64])
def test_key_in_pushdown_plans_only_bloom_surviving_segments(
    spark, tmp_path, width
):
    """SQL key pushdown (VERDICT r9 next-4): a `key IN (…)` conjunct
    reaches `KafkaSegmentReader.pushFilters`, routes to the keys'
    partitions on a key-routed log, probes each segment's bloom at
    PLAN time, and only bloom-surviving segments plan splits. The
    filter is also handed back (exact row check). Fallbacks: unindexed
    log → full scan; offset-routed log → all partitions, blooms still
    prune; bloom-negative key set → empty scan, zero rows. Counts are
    segments from `plan_segments`; the reader's tasks, at every pack
    width, read exactly those segments."""
    from pyspark.sql.datasource import In

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentDataSource,
        KafkaSegmentReader,
        build_key_blooms,
        plan_segments,
        write_segments,
    )

    # key "7" appears ONLY in rounds 0 and 4 of 6 (sparse → blooms bite)
    rows = []
    for rnd in range(6):
        for k in range(40):
            if k == 7 and rnd not in (0, 4):
                continue
            off = rnd * 40 + k
            rows.append((off, str(k).encode(), f"v{off}".encode(), None))
    raw = spark.createDataFrame(
        rows, "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP"
    )
    log = str(tmp_path / "pushlog")
    write_segments(raw, log, num_partitions=2, segment_rows=20,
                   route_by_key=True)
    build_key_blooms(log)

    def plan_for(path, keys=()):
        """(surviving segments, reader tasks) for a `key IN keys`."""
        filters = [In(("key",), tuple(keys))] if keys else []
        r = KafkaSegmentReader({"path": path, "packParallelism": str(width)})
        rem = list(r.pushFilters(filters))
        # key filters are ALWAYS returned for exact row evaluation
        assert len(rem) == len(filters)
        splits = r.partitions()
        plan = plan_segments(path, keys=set(keys) or None)
        read = sorted(f for sp in splits for f in sp.segments)
        assert read == sorted(plan.files)
        return plan.segments, splits

    full, _ = plan_for(log)
    pruned, pruned_splits = plan_for(log, (b"7",))
    # partition routing alone halves the plan; blooms cut further
    assert len(pruned) < len(full) / 2, (len(pruned), len(full))
    # one partition's segment dirs only
    assert len({pid for pid, *_ in pruned}) == 1
    assert len({s.partition_id for s in pruned_splits}) == 1

    # end-to-end SQL equality with the unpruned scan
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(KafkaSegmentDataSource)
    view = spark.read.format("kafka_segments").option("path", log).load()
    view.createOrReplaceTempView("pushlog")
    got = spark.sql(
        "SELECT offset FROM pushlog WHERE key IN (CAST('7' AS BINARY))"
    ).collect()
    assert sorted(r["offset"] for r in got) == [7, 167]

    # bloom-negative key: planned away entirely, still zero rows
    absent, absent_splits = plan_for(log, (b"zzz-absent",))
    assert absent == ()
    assert len(absent_splits) <= 1  # the single empty split
    n = spark.sql(
        "SELECT count(*) AS n FROM pushlog "
        "WHERE key = CAST('zzz-absent' AS BINARY)"
    ).collect()[0]["n"]
    assert n == 0

    # offset-routed log: all partitions consulted, blooms still prune
    log2 = str(tmp_path / "pushlog_offset")
    write_segments(raw, log2, num_partitions=2, segment_rows=20)
    build_key_blooms(log2)
    full2, _ = plan_for(log2)
    # keys "6"/"7" land at offsets rnd*40+{6,7} → opposite parities →
    # both partitions hold hits; no partition may be routed away
    pruned2, pruned2_splits = plan_for(log2, (b"6", b"7"))
    assert len({pid for pid, *_ in pruned2}) == 2
    assert len({s.partition_id for s in pruned2_splits}) == 2
    assert len(pruned2) < len(full2), (len(pruned2), len(full2))

    # unindexed log: graceful full-scan fallback, same answers
    log3 = str(tmp_path / "pushlog_noidx")
    write_segments(raw, log3, num_partitions=2, segment_rows=20,
                   route_by_key=True)
    full3, _ = plan_for(log3)
    # routing still prunes partitions (layout metadata, no index), but
    # within the routed partition every segment survives
    pruned3, pruned3_splits = plan_for(log3, (b"7",))
    routed_pid = {pid for pid, *_ in pruned3}
    assert len(routed_pid) == 1
    assert {s.partition_id for s in pruned3_splits} == routed_pid
    per_pid_full = sum(1 for pid, *_ in full3 if pid in routed_pid)
    assert len(pruned3) == per_pid_full
    view3 = spark.read.format("kafka_segments").option("path", log3).load()
    view3.createOrReplaceTempView("pushlog3")
    got3 = spark.sql(
        "SELECT offset FROM pushlog3 WHERE key IN (CAST('7' AS BINARY))"
    ).collect()
    assert sorted(r["offset"] for r in got3) == [7, 167]


def test_catalog_pull_query_prunes_through_decode_projection(spark, tmp_path):
    """expose_key=True (round 10): the catalog-decoded table carries
    the raw Kafka key as the opt-in hidden column `_key`; a pull query
    on USER columns with `WHERE _key IN (…)` pushes through the decode
    projection to pushFilters key pruning — the scan stage launches
    exactly the bloom-surviving splits, not the full log. `_key` never
    appears on non-exposing tables (reference hidden-column parity)."""
    import json as _json

    from pyspark.sql import types as T
    from pyspark.sql.datasource import In

    from presto_rakam_kafka_spark.catalog import EventCatalog
    from presto_rakam_kafka_spark.metastore import InMemoryMetastore
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentReader,
        build_key_blooms,
        plan_segments,
        write_segments,
    )

    rows = []
    for rnd in range(6):
        for k in range(40):
            if k == 7 and rnd not in (0, 4):
                continue
            off = rnd * 40 + k
            rows.append((off, str(k).encode(),
                         _json.dumps({"uid": k, "v": float(off)}).encode(),
                         None))
    raw = spark.createDataFrame(
        rows, "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP"
    )
    log = str(tmp_path / "catpush")
    write_segments(raw, log, num_partitions=2, segment_rows=20,
                   route_by_key=True)
    build_key_blooms(log)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    ms = InMemoryMetastore()
    cat = EventCatalog(spark, ms)
    ms.register_struct("t", "klog", T.StructType([
        T.StructField("uid", T.LongType()), T.StructField("v", T.DoubleType())
    ]))
    cat.register_kafka_segments("t", "klog", log, expose_key=True)
    view = cat.sql_view("t", "klog")

    sc = spark.sparkContext
    sc.setJobGroup("catpush_probe", "catpush_probe")
    try:
        got = spark.sql(
            f"SELECT uid, _offset FROM {view} "
            "WHERE _key IN (CAST('7' AS BINARY))"
        ).collect()
    finally:
        sc.setJobGroup(None, None)
    assert sorted((r["uid"], r["_offset"]) for r in got) == [(7, 7), (7, 167)]

    # the scan stage launched exactly the bloom-surviving split count
    st = sc.statusTracker()
    task_counts = set()
    for j in st.getJobIdsForGroup("catpush_probe"):
        for s in st.getJobInfo(j).stageIds:
            si = st.getStageInfo(s)
            if si:
                task_counts.add(si.numTasks)
    # pruning, in segments: the bloom survivors are a small share
    n_pruned = len(plan_segments(log, keys={b"7"}).segments)
    n_full = len(plan_segments(log).segments)
    assert n_pruned < n_full / 3, (n_pruned, n_full)
    # ... and the scan ran the reader's tasks for that pushed filter
    r_pruned = KafkaSegmentReader({"path": log})
    r_pruned.pushFilters([In(("key",), (b"7",))])
    expected = len(r_pruned.partitions())
    r_full = KafkaSegmentReader({"path": log})
    r_full.pushFilters([])
    full = len(r_full.partitions())
    assert expected in task_counts, (expected, task_counts)
    assert full not in task_counts, (full, task_counts)

    # hidden-column parity: _key is opt-in — a non-exposing table of
    # the same log shows exactly the reference's three system columns
    cat.register_kafka_segments("t", "klog", log, expose_key=False)
    cols = cat.table("t", "klog", include_hidden=True).columns
    assert cols == ["_offset", "project", "collection", "uid", "v"]


def test_stream_reader_starting_timestamp(spark, sf_dir, tmp_path):
    """startingTimestamp resolves the first consumer position per
    partition via the offsetsForTimes analog; a timestamp past the
    log's end starts at latest (null → latest, the Kafka source's
    resolution); combining it with startingOffsets raises."""
    import datetime as dt

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentStreamReader,
        offsets_for_times,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 600)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=2, segment_rows=200)

    cut = "2024-01-10 00:00:00"
    rdr = KafkaSegmentStreamReader(
        {"path": log, "startingTimestamp": cut}
    )
    init = rdr.initialOffset()
    seek = offsets_for_times(log, dt.datetime(2024, 1, 10))
    assert init == {str(p): o for p, o in seek.items()}
    # every replayed frame is at/after the cut; nothing qualifying lost
    end = rdr.latestOffset()
    n = sum(
        b.num_rows for s in rdr.partitions(init, end) for b in rdr.read(s)
    )
    expected = ev.filter(F.col("ts") >= F.lit(cut).cast("timestamp")).count()
    assert n == expected

    far = KafkaSegmentStreamReader(
        {"path": log, "startingTimestamp": "2030-01-01 00:00:00"}
    )
    init_far = far.initialOffset()
    # null resolution → latest: nothing replays from the existing log
    assert init_far == far.latestOffset()

    with pytest.raises(ValueError, match="mutually exclusive"):
        KafkaSegmentStreamReader(
            {"path": log, "startingTimestamp": cut,
             "startingOffsets": "earliest"}
        )


def test_stream_survives_compaction_between_triggers(spark, sf_dir, tmp_path):
    """Consumer positions are OFFSETS, not files: a size compaction
    that rewrites many small segments into few big ones between two
    triggers must not lose or re-deliver a single row — the next
    batch plans [committed, end) against the NEW segment layout."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentStreamReader,
        compact_segments,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 600)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=2, segment_rows=50)

    rdr = KafkaSegmentStreamReader({"path": log, "maxRowsPerBatch": "200"})
    pos = rdr.initialOffset()
    seen: list[int] = []

    def drain_one(reader, start):
        end = reader.latestOffset()
        if end == start:
            return start, False
        for s in reader.partitions(start, end):
            for b in reader.read(s):
                seen.extend(b.column("offset").to_pylist())
        return end, True

    pos, _ = drain_one(rdr, pos)  # first bounded batch
    # between triggers: the log compacts 12 small segments → few big
    compact_segments(log, target_rows=10_000)
    # a restart builds a FRESH reader over the compacted layout; the
    # committed position carries over (checkpoint analog)
    rdr2 = KafkaSegmentStreamReader({"path": log, "maxRowsPerBatch": "200"})
    for _ in range(50):
        pos, progressed = drain_one(rdr2, pos)
        if not progressed:
            break
    assert sorted(seen) == sorted(
        r["event_id"] for r in ev.select("event_id").collect()
    )
    assert len(seen) == len(set(seen))  # exactly-once across the rewrite


def test_crash_orphan_generation_dir_does_not_brick_maintenance(
    spark, sf_dir, tmp_path
):
    """Round 12: a maintainer that crashed between creating gen-N+1 and
    flipping the pointer leaves an orphan generation dir. Pre-fix the
    next compaction's bare os.makedirs raised FileExistsError forever —
    maintenance bricked. Under the log flock the orphan is provably
    crash residue (the pointer never reached it) and is reclaimed."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        compact_segments,
    )

    log = str(tmp_path / "olog")
    ev = read_table(spark, sf_dir, "events")
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, log, num_partitions=2, segment_rows=50)
    spark.dataSource.register(KafkaSegmentDataSource)
    before = sorted(
        r["offset"]
        for r in spark.read.format("kafka_segments")
        .option("path", log).load().select("offset").collect()
    )
    # crash residue: the dir exists (with a half-written file), the
    # pointer does not reference it
    orphan = os.path.join(log, "partition=0", "gen-000001")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "segment-0.parquet"), "w") as fh:
        fh.write("torn half-written junk")
    compact_segments(log, target_rows=10_000)  # must not raise
    after = sorted(
        r["offset"]
        for r in spark.read.format("kafka_segments")
        .option("path", log).load().select("offset").collect()
    )
    assert after == before


def test_publish_gen_flip_fences_cross_host_writer(spark, sf_dir, tmp_path):
    """Round 12: a maintenance op built on a generation another writer
    has since superseded must have its publish REFUSED — winning the
    pointer with a rewrite of the pre-purge generation would resurrect
    purged keys."""
    import pytest

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        ConcurrentLogMaintenanceError,
        _publish_gen_flip,
        _resolve_partition_dir,
        compact_segments,
    )

    log = str(tmp_path / "flog")
    ev = read_table(spark, sf_dir, "events")
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, log, num_partitions=1, segment_rows=50)
    pdir = os.path.join(log, "partition=0")
    stale_cur = _resolve_partition_dir(pdir)  # this writer's read
    compact_segments(log, target_rows=10_000)  # another writer commits
    new_cur = _resolve_partition_dir(pdir)
    assert new_cur != stale_cur
    with pytest.raises(ConcurrentLogMaintenanceError):
        _publish_gen_flip(pdir, stale_cur, "gen-000099")
    assert _resolve_partition_dir(pdir) == new_cur  # commit intact


def test_concurrent_purge_and_compact_serialize(spark, tmp_path):
    """Round 12: concurrent maintenance ops on one log queue on the
    flock instead of colliding on os.makedirs(gen-N+1) — a purge and a
    key-compaction launched together both complete, and the result is
    both effects applied (no resurrection, no lost rewrite)."""
    import threading

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        compact_log_by_key,
        purge_keys,
    )

    rows = [
        (i, str(i % 7).encode(), f"v{i}".encode(), None)
        for i in range(200)
    ]
    raw = spark.createDataFrame(
        rows, "offset LONG, key BINARY, value BINARY, ts TIMESTAMP"
    ).select(
        "offset", "key", "value",
        F.coalesce("ts", F.current_timestamp()).alias("timestamp"),
    )
    log = str(tmp_path / "cplog")
    write_segments(raw, log, num_partitions=2, segment_rows=20,
                   route_by_key=True)

    errs: list[BaseException] = []

    def run(fn, *a, **kw):
        try:
            fn(*a, **kw)
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    t1 = threading.Thread(target=run, args=(purge_keys, log, [b"3"]))
    t2 = threading.Thread(
        target=run, args=(compact_log_by_key, log),
        kwargs={"target_rows": 10_000},
    )
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    spark.dataSource.register(KafkaSegmentDataSource)
    out = spark.read.format("kafka_segments").option("path", log).load()
    keys = {bytes(r["key"]).decode() for r in out.select("key").collect()}
    assert "3" not in keys                      # the purge held
    assert keys == {"0", "1", "2", "4", "5", "6"}
    # the compaction held too: exactly one (latest) row per key
    per_key = out.groupBy("key").count().collect()
    assert all(r["count"] == 1 for r in per_key)


def test_write_dir_rename_publish_and_residue_reclaim(spark, sf_dir, tmp_path):
    """ADVICE r12 #3: maintenance ops write into a random-suffixed
    ``gen-N.w-*`` dir and rename at publish, so a reclaim never shares
    a path with a live writer. Crash residue — an orphaned write dir —
    is invisible to readers and reclaimed by the next locked op."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        _resolve_partition_dir,
        compact_segments,
    )

    log = str(tmp_path / "wlog")
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, log, num_partitions=1, segment_rows=50)
    pdir = os.path.join(log, "partition=0")
    # crash residue: a write dir orphaned mid-rewrite, AGED past the
    # reclaim grace (a fresh .w- dir is treated as a possibly-LIVE
    # remote writer's in-progress dir and left alone — round-13
    # second review)
    orphan = os.path.join(pdir, "gen-000001.w-deadbeef")
    os.makedirs(orphan)
    junk = os.path.join(orphan, "segment-0.parquet")
    with open(junk, "w") as fh:
        fh.write("torn junk from a crashed writer")
    os.utime(junk, (0, 0))
    os.utime(orphan, (0, 0))
    # a FRESH residue dir (possibly a live writer) must survive
    fresh = os.path.join(pdir, "gen-000001.w-11fresh1")
    os.makedirs(fresh)
    with open(os.path.join(fresh, "segment-9.parquet"), "w") as fh:
        fh.write("a live remote writer's in-progress file")
    spark.dataSource.register(KafkaSegmentDataSource)
    before = (
        spark.read.format("kafka_segments").option("path", log).load().count()
    )
    compact_segments(log, target_rows=10_000)  # reclaims + publishes
    assert not os.path.isdir(orphan)  # aged residue reclaimed
    assert os.path.isdir(fresh)  # fresh dir spared (maybe live writer)
    cur = _resolve_partition_dir(pdir)
    assert os.path.basename(cur) == "gen-000001"
    # our own write dir never survives a successful publish
    stray = [e for e in os.listdir(pdir) if ".w-" in e]
    assert stray == [os.path.basename(fresh)]
    after = (
        spark.read.format("kafka_segments").option("path", log).load().count()
    )
    assert after == before


def test_purge_erases_lingering_superseded_generations(spark, sf_dir, tmp_path):
    """Round 13: superseded generations linger inside the read grace —
    but they may still CONTAIN purged keys, so purge_keys force-erases
    every superseded generation in each selected partition before
    judging it (GDPR beats reader liveness), including partitions whose
    CURRENT generation has zero hits."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        _resolve_partition_dir,
        compact_segments,
        purge_keys,
    )

    log = str(tmp_path / "plog")
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_type", "value")).cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, log, num_partitions=2, segment_rows=50,
                   route_by_key=True)
    compact_segments(log, target_rows=100)   # → gen-000001
    compact_segments(log, target_rows=10_000)  # → gen-000002, gen-1 lingers
    pdirs = [os.path.join(log, p) for p in sorted(os.listdir(log))
             if p.startswith("partition=")]
    assert any(
        os.path.isdir(os.path.join(p, "gen-000001")) for p in pdirs
    )  # the grace kept it
    victim = (
        ev.select(F.col("user_id").cast("string")).first()[0].encode()
    )
    purge_keys(log, [victim])
    for p in pdirs:
        cur = os.path.basename(_resolve_partition_dir(p))
        gens = sorted(e for e in os.listdir(p) if e.startswith("gen-")
                      and ".w-" not in e)
        assert gens == [cur], f"{p}: superseded generations survived {gens}"
    spark.dataSource.register(KafkaSegmentDataSource)
    left = (
        spark.read.format("kafka_segments").option("path", log).load()
        .filter(F.col("key") == F.lit(victim)).count()
    )
    assert left == 0


def test_log_maintenance_storm_serializes_and_stays_exact(spark, sf_dir, tmp_path):
    """Round-13 composition stress on the segment log: compactions,
    vacuums, retention no-ops, and appends race on ONE log. Ops queue
    on the flock (bounded wait), publishes are fenced, retirement is
    graced — the only acceptable errors are the cooperative named ones,
    and the final scan count is exact."""
    import threading

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        ConcurrentLogMaintenanceError,
        compact_segments,
        expire_segments,
        vacuum_log,
    )

    log = str(tmp_path / "stormlog")
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("event_type").cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, log, num_partitions=3, segment_rows=25)
    spark.dataSource.register(KafkaSegmentDataSource)
    base = (
        spark.read.format("kafka_segments").option("path", log).load().count()
    )

    unexpected: list[BaseException] = []

    def op(fn, *args, **kwargs):
        def run():
            try:
                fn(*args, **kwargs)
            except ConcurrentLogMaintenanceError:
                pass  # cooperative: fenced or queue-bounded
            except BaseException as exc:  # noqa: BLE001 — surfaced below
                unexpected.append(exc)
        return threading.Thread(target=run)

    threads = [
        op(compact_segments, log, target_rows=50),
        op(compact_segments, log, target_rows=200),
        op(compact_segments, log, target_rows=120),
        op(vacuum_log, log),
        op(expire_segments, log, min_offset=0),  # retention no-op
        op(vacuum_log, log, grace_s=0.0),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not unexpected, unexpected[:3]
    got = (
        spark.read.format("kafka_segments").option("path", log).load().count()
    )
    assert got == base  # every racing rewrite preserved the data
    # the log still accepts appends after the storm (v2 writer runs on
    # the main thread — Spark resolves Python data sources per-thread)
    raw.withColumn("offset", F.col("offset") + 10_000).write.format(
        "kafka_segments"
    ).option("path", log).option("numPartitions", "3").mode("append").save()
    compact_segments(log, target_rows=10_000)
    vacuum_log(log, grace_s=0.0)
    got2 = (
        spark.read.format("kafka_segments").option("path", log).load().count()
    )
    assert got2 == 2 * base
