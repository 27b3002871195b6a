"""Rollup + live-tail serving (streaming/serving.py, round 10).

The serving contract: finish(merge(stored cells ∪ cells(tail beyond the
committed HWM))) is EXACT over the full log, the tail scan plans splits
only for uncovered segments (offset pushdown), maintenance rewrites only
touched day buckets (manifest carry for the rest), and the (cells, HWM,
txn) commit is atomic — a crash mid-maintenance serves the old
generation, never a torn view.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from presto_rakam_kafka_spark.streaming.serving import (
    _read_cell_files,
    _read_manifest,
    _read_pointer,
    maintain_rollup,
    read_store_cells,
    run_rollup_maintenance,
    serve_rollup_tail,
)

GROUP = ["day", "event_type"]


def test_cell_read_past_listing_threshold_builds_without_a_job(spark, tmp_path):
    """Past Spark's 32-path listing threshold a cell read still builds
    with no Spark job: no listing job and no schema-inference job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = []
    for i in range(40):
        files.append(str(tmp_path / f"cells-{i}.parquet"))
        pq.write_table(pa.table({"k": [i], "n": [1]}), files[-1])
    sc = spark.sparkContext
    group = "cell_read_build_probe"
    sc.setJobGroup(group, group)
    try:
        df = _read_cell_files(spark, files)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.agg(F.sum("n"), F.countDistinct("k")).first() == (40, 40)


def _cells(df_raw):
    v = F.from_json(
        F.col("value").cast("string"), "event_type STRING, value DOUBLE"
    )
    rows = df_raw.select(
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"), v.alias("r")
    ).select("day", "r.event_type", "r.value")
    return rows.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )


def _merge():
    return [F.sum("n").alias("n"), F.sum("s").alias("s")]


def _finish(cells):
    return cells.select("day", "event_type", "n", F.round("s", 2).alias("s"))


def _write_log(spark, sf_dir, path, lo=0, hi=None, segment_rows=150):
    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.sources.kafka_datasource import write_segments

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") >= lo)
    if hi is not None:
        ev = ev.filter(F.col("event_id") < hi)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct("event_type", "value")).cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, path, num_partitions=3, segment_rows=segment_rows)


def _expected(spark, sf_dir, hi=None):
    from presto_rakam_kafka_spark.fixtures import read_table

    ev = read_table(spark, sf_dir, "events")
    if hi is not None:
        ev = ev.filter(F.col("event_id") < hi)
    return {
        (r["day"], r["event_type"]): (r["n"], r["s"])
        for r in ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }


def _got(df):
    return {
        (r["day"], r["event_type"]): (r["n"], r["s"]) for r in df.collect()
    }


def test_serve_equals_full_scan(spark, sf_dir, tmp_path):
    """Maintained cells + live tail == plain aggregation of the whole
    log; a FRESH store (nothing maintained) degrades to exactly the
    full scan the reference does."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")

    fresh = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(fresh) == _expected(spark, sf_dir, hi=600)

    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=300)
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=600)
    # the store really covers only the maintained prefix
    _gen, _txns, hwm = _read_pointer(store)
    assert set(hwm.values()) == {300}
    stored = _finish(read_store_cells(spark, store))
    assert _got(stored) == _expected(spark, sf_dir, hi=300)


def test_tail_scan_plans_only_uncovered_segments(spark, sf_dir, tmp_path):
    """The serve-time tail scan reads exactly the segment files that
    reach past their partition's HWM — covered segments are pruned at
    PLAN time by the driver-side planner, not filtered after a read —
    and reads them with Spark's own parquet scan, not the Python
    ``kafka_segments`` DataSource."""
    from urllib.parse import urlparse

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        _enumerate_segments,
        plan_segments,
    )
    from presto_rakam_kafka_spark.streaming.serving import _tail_scan

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=900, segment_rows=100)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=600)
    _g, _t, hwm = _read_pointer(store)

    segs = _enumerate_segments(log)
    n_total = sum(len(s) for s in segs.values())
    tail_files = {
        f for pid, ss in segs.items() for (f, _lo, hi, _n) in ss
        if hi > hwm[pid]
    }
    assert 0 < len(tail_files) < n_total / 2

    assert plan_segments(log, lower=hwm).pruned == n_total - len(tail_files)
    tail = _tail_scan(spark, log, hwm)
    assert {urlparse(u).path for u in tail.inputFiles()} == tail_files

    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=900)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan kafka_segments" not in plan, plan


def test_incremental_maintenance_carries_untouched_days(spark, sf_dir, tmp_path):
    """Second maintenance tick folds ONLY the new tail: day buckets the
    tail didn't touch carry by manifest reference into the new
    generation (no rewrite), and the merged cells equal a one-shot
    fold of the full log."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log)  # the full events table
    store = str(tmp_path / "store")

    # events are time-ordered by offset, so a low cut covers only the
    # earliest days; the follow-up covers the rest
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=120)
    gen1, txns1, _ = _read_pointer(store)
    man1 = _read_manifest(store, gen1)
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    gen2, txns2, hwm2 = _read_pointer(store)
    assert gen2 != gen1
    man2 = _read_manifest(store, gen2)

    tail_days = {
        r["day"]
        for r in spark.read.parquet(log + "/partition=*")
        .filter(F.col("offset") >= 120)
        .select(F.date_format("timestamp", "yyyy-MM-dd").alias("day"))
        .distinct()
        .collect()
    }
    untouched = set(man1) - tail_days
    assert untouched, "fixture must leave at least one untouched day"
    for d in untouched:
        assert man2[d] == man1[d]  # carried by reference, same files
        assert all(f.startswith(gen1) for f in man2[d])
    for d in tail_days & set(man2):
        assert all(f.startswith(gen2) for f in man2[d])

    # merged cells == one-shot fold over the whole log
    one_shot = str(tmp_path / "oneshot")
    maintain_rollup(spark, log, one_shot, _cells, GROUP, _merge())
    assert _got(_finish(read_store_cells(spark, store))) == _got(
        _finish(read_store_cells(spark, one_shot))
    )
    # serve on a fully-maintained store reads an empty tail
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir)


def test_re_maintenance_is_metadata_noop(spark, sf_dir, tmp_path):
    """Nothing new in the log → no generation written, pointer
    untouched (the idle dashboard tick costs metadata only)."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    gen1, txns1, hwm1 = _read_pointer(store)
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    gen2, txns2, hwm2 = _read_pointer(store)
    assert (gen1, txns1, hwm1) == (gen2, txns2, hwm2)


def test_hwm_never_regresses(spark, sf_dir, tmp_path):
    """A maintenance call with an up_to BELOW the committed HWM must
    not un-cover cells (coverage is monotone)."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=400)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=300)
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)
    _gen, _txns, hwm = _read_pointer(store)
    assert set(hwm.values()) == {300}
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=400)


def test_crash_mid_maintenance_serves_old_generation(spark, sf_dir, tmp_path):
    """A maintenance crash AFTER writing a generation but BEFORE the
    pointer flip leaves the store serving the previous (consistent)
    cells+HWM pair — the stray directory is invisible."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=500)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=250)
    gen1, txns1, hwm1 = _read_pointer(store)
    before = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    # simulate the crash: stray half-written generation, no flip
    stray = os.path.join(store, "gen-0000000099")
    os.makedirs(os.path.join(stray, "_day=1999-01-01"))
    with open(os.path.join(stray, "_MANIFEST.json"), "w") as fh:
        json.dump({"days": {}}, fh)
    assert _read_pointer(store)[0] == gen1
    after = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    assert after == before == _expected(spark, sf_dir, hi=500)


def test_streaming_maintenance_multi_epoch(spark, sf_dir, tmp_path):
    """The streaming fold drains in multiple bounded epochs (restart
    per AvailableNow trigger), commits exactly-once, and leaves a
    store whose cells equal the one-shot batch fold; the post-drain
    serve reads an empty tail."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentDataSource,
    )

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600, segment_rows=100)
    store = str(tmp_path / "store")
    spark.dataSource.register(KafkaSegmentDataSource)
    stream_raw = (
        spark.readStream.format("kafka_segments")
        .option("path", log)
        .option("maxRowsPerBatch", 150)
        .load()
    )
    run_rollup_maintenance(
        stream_raw, store, _cells, GROUP, _merge(), name="t_serve_stream"
    )
    gen, txns, hwm = _read_pointer(store)
    assert txns["stream"] >= 3  # 600 rows / 150-row cap → ≥4 epochs
    one_shot = str(tmp_path / "oneshot")
    maintain_rollup(spark, log, one_shot, _cells, GROUP, _merge())
    assert _got(_finish(read_store_cells(spark, store))) == _got(
        _finish(read_store_cells(spark, one_shot))
    )
    _g2, _t2, hwm_b = _read_pointer(one_shot)
    assert hwm == hwm_b  # coverage from batch offsets == log ends
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=600)


def test_mixed_app_ids_share_one_store(spark, sf_dir, tmp_path):
    """A batch top-up and a second maintainer (different app_id, its
    own epoch numbering restarting at 0) share the store: generation
    names are a store-level sequence, so the second app's epoch-0
    commit must not overwrite the first app's current generation."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=400)
    store = str(tmp_path / "store")
    maintain_rollup(
        spark, log, store, _cells, GROUP, _merge(), up_to=200, app_id="a"
    )
    gen1, txns1, _ = _read_pointer(store)
    maintain_rollup(
        spark, log, store, _cells, GROUP, _merge(), app_id="b"
    )
    gen2, txns2, hwm2 = _read_pointer(store)
    assert gen2 > gen1  # sequence advanced, nothing clobbered
    assert txns2 == {"a": 0, "b": 0}  # per-app replay records coexist
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=400)


def test_gc_keeps_one_superseded_generation(spark, sf_dir, tmp_path):
    """A serve that resolved the pointer just before a maintenance
    commit must still find its generation: GC retains the newest
    superseded generation for one tick, everything any retained
    manifest references, AND (round 13) every superseded generation
    younger than the time grace — so a slow serve spanning SEVERAL
    commits keeps its snapshot. Collection happens only once the
    retirement marker ages past the grace."""
    import json as _json

    from presto_rakam_kafka_spark.streaming import serving as S

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = str(tmp_path / "store")
    # three ticks inside the same day → every fold rewrites the only
    # touched day, so superseded generations are NOT carry-referenced
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=10)
    gen0, _, _ = _read_pointer(store)
    gen0_snapshot_files = [
        os.path.join(store, f)
        for fs in S._read_manifest(store, gen0).values()
        for f in fs
    ]
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=20)
    gen1, _, _ = _read_pointer(store)
    assert os.path.isdir(os.path.join(store, gen0))  # grace: one tick
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=30)
    # round 13: gen0 spans TWO commits now but is inside the TIME grace
    # — the slow serve that resolved gen0 before both commits still
    # reads its exact snapshot (VERDICT r12 #2b)
    assert os.path.isdir(os.path.join(store, gen0))
    assert spark.read.parquet(*gen0_snapshot_files).count() > 0
    # age gen0's retirement marker past the grace → the next tick's GC
    # collects it; gen1 (newest superseded) stays under the count grace
    marker = os.path.join(store, gen0, S._RETIRED_MARKER)
    with open(marker, "w") as fh:
        _json.dump({"retired_at": 0.0}, fh)
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=40)
    assert not os.path.isdir(os.path.join(store, gen0))  # collected
    assert os.path.isdir(os.path.join(store, gen1))  # within time grace
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=300)


def test_rebuild_replaces_suspect_cells(spark, sf_dir, tmp_path):
    """rebuild_rollup re-folds the whole log into one fresh generation
    and swaps it in atomically: a corrupted cell store (simulated by
    doctoring the committed cells) is fully repaired, coverage jumps
    to the log end, and the serve equals truth again."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from presto_rakam_kafka_spark.streaming.serving import rebuild_rollup

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=400)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=200)

    # doctor one committed cell file (the "bug in cell logic" stand-in)
    gen, _t, _h = _read_pointer(store)
    man = _read_manifest(store, gen)
    victim = os.path.join(store, next(iter(man.values()))[0])
    pdf = pq.read_table(victim).to_pandas()
    pdf.loc[0, "n"] = 10_000_000
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), victim)
    crc = os.path.join(
        os.path.dirname(victim), "." + os.path.basename(victim) + ".crc"
    )
    if os.path.exists(crc):  # Hadoop local-FS checksum sidecar
        os.remove(crc)
    broken = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(broken) != _expected(spark, sf_dir, hi=400)

    rebuild_rollup(spark, log, store, _cells, GROUP, _merge())
    gen2, txns2, hwm2 = _read_pointer(store)
    from presto_rakam_kafka_spark.streaming.serving import _log_end_offsets

    assert gen2 > gen and txns2["rebuild"] == 0
    assert hwm2 == _log_end_offsets(log)  # coverage = per-partition ends
    fixed = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(fixed) == _expected(spark, sf_dir, hi=400)
    # rebuilt generation is self-contained: no carry references
    man2 = _read_manifest(store, gen2)
    assert all(f.startswith(gen2) for fs in man2.values() for f in fs)


def test_cell_schema_evolution_adds_measure(spark, sf_dir, tmp_path):
    """Adding a measure to cell_fn mid-life must not strand the store:
    old generations read the new column as NULL (mergeSchema), the
    union is name-matched with missing columns allowed, and counts
    stay exact across the migration. Pre-migration days present the
    new measure as NULL — honest, not fabricated."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=400)
    store = str(tmp_path / "store")

    def cells_v1(df_raw):  # count only
        v = F.from_json(F.col("value").cast("string"), "event_type STRING")
        return (
            df_raw.select(
                F.date_format("timestamp", "yyyy-MM-dd").alias("day"),
                v.getField("event_type").alias("event_type"),
            )
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    maintain_rollup(spark, log, store, cells_v1, GROUP,
                    [F.sum("n").alias("n")], up_to=200)

    # migration: the v2 cells add a sum measure
    merge_v2 = [F.sum("n").alias("n"), F.sum("s").alias("s")]
    maintain_rollup(spark, log, store, _cells, GROUP, merge_v2)
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, merge_v2,
        finish_fn=lambda c: c.select(
            "day", "event_type", "n", F.round("s", 2).alias("s")
        ),
    )
    got = _got(served)
    want = _expected(spark, sf_dir, hi=400)
    assert set(got) == set(want)
    for k, (n, s) in want.items():
        assert got[k][0] == n  # counts exact across the migration
    # pre-migration-only days carry NULL for the new measure; days
    # touched after the migration have real sums
    pre_only = {k for k in got if got[k][1] is None}
    assert pre_only, "some day cells must predate the migration"
    post = {k for k in got if got[k][1] is not None}
    assert post, "some day cells must postdate the migration"


def test_day_serve_prunes_both_axes_and_is_exact(spark, sf_dir, tmp_path):
    """serve_rollup_day reads one manifest day bucket plus a tail
    pruned on BOTH axes: segments below the HWM are out (offset) and
    tail segments whose footer ts stats miss the day are out
    (timestamp) — asserted on planned segments; the result is
    the exact day slice whether the day is fully covered, fully in the
    tail, or straddling the cut."""
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual as GTE
    from pyspark.sql.datasource import LessThan as LT

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentReader,
        plan_segments,
    )
    from presto_rakam_kafka_spark.streaming.serving import serve_rollup_day

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, segment_rows=100)  # the full table
    store = str(tmp_path / "store")
    # cut ≈ 60% → ~Jan 19; events are time-ordered by offset
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=600)
    _g, _t, hwm = _read_pointer(store)

    def day_slice(day):
        from presto_rakam_kafka_spark.fixtures import read_table

        ev = read_table(spark, sf_dir, "events").filter(
            F.date_format("ts", "yyyy-MM-dd") == day
        )
        return {
            (r["day"], r["event_type"]): (r["n"], r["s"])
            for r in ev.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("s"),
            )
            .collect()
        }

    for day in ("2024-01-05", "2024-01-19", "2024-01-28"):
        got = _got(
            serve_rollup_day(
                spark, log, store, day, _cells, GROUP, _merge(),
                finish_fn=_finish,
            )
        )
        assert got == day_slice(day), day

    # planning-level: the day-bounded tail plans strictly fewer
    # segments than the offset-bounded tail, which plans fewer than the
    # full log ...
    lo = min(hwm.values())
    day_lo, day_hi = dt.datetime(2024, 1, 28), dt.datetime(2024, 1, 29)
    full = plan_segments(log)
    off = plan_segments(log, start=lo)
    day = plan_segments(log, start=lo, ts_lo=day_lo, ts_hi=day_hi)
    n_full, n_off, n_day = (len(p.segments) for p in (full, off, day))
    assert n_day < n_off < n_full, (n_day, n_off, n_full)
    # ... and the serve's own tail scan (per-partition HWM, day span)
    # prunes at least as far as the global offset bound does
    tail = plan_segments(log, lower=hwm, ts_lo=day_lo, ts_hi=day_hi)
    assert set(tail.files) <= set(day.files)
    # the DataSource reader, whatever its pack width, reads exactly the
    # planner's segments for the same pushed filters
    for width in (1, 4, 64):
        for filters, plan in (
            ([], full),
            ([GTE(("offset",), lo)], off),
            ([GTE(("offset",), lo), GTE(("timestamp",), day_lo),
              LT(("timestamp",), day_hi)], day),
        ):
            r = KafkaSegmentReader({"path": log, "packParallelism": str(width)})
            r.pushFilters(filters)
            read = sorted(f for sp in r.partitions() for f in sp.segments)
            assert read == sorted(plan.files), (width, filters)


def test_append_during_tick_never_double_counts(spark, sf_dir, tmp_path, monkeypatch):
    """A producer appending between the driver's segment listing and
    the executor scan must not corrupt the store: the fold is bounded
    by the coverage being committed, so late rows are EXCLUDED now and
    folded exactly once on the next tick. Simulated by pinning the
    listing to a stale snapshot while the log already holds more."""
    from presto_rakam_kafka_spark.streaming import serving as S

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    stale_ends = S._log_end_offsets(log)
    # the "append during the tick": more rows land before the scan runs
    _write_log(spark, sf_dir, log, lo=300, hi=500)
    store = str(tmp_path / "store")
    monkeypatch.setattr(S, "_log_end_offsets", lambda _p: dict(stale_ends))
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    _g, _t, hwm = _read_pointer(store)
    assert hwm == stale_ends  # coverage == what the listing saw
    stored = _finish(read_store_cells(spark, store))
    assert _got(stored) == _expected(spark, sf_dir, hi=300)  # no leak
    monkeypatch.undo()
    # next tick folds the late rows exactly once
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    stored2 = _finish(read_store_cells(spark, store))
    assert _got(stored2) == _expected(spark, sf_dir, hi=500)


@pytest.mark.parametrize("seed", [11, 23])
def test_random_maintenance_schedule_always_serves_truth(
    spark, sf_dir, tmp_path, seed
):
    """Metamorphic check: WHATEVER maintenance schedule ran — random
    cuts, regressions, idle ticks, a rebuild — the serve must equal
    the plain full-log aggregation after every step. Deterministic
    per-seed schedules (no runtime randomness)."""
    import random

    from presto_rakam_kafka_spark.streaming.serving import rebuild_rollup

    rng = random.Random(seed)
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=500)
    store = str(tmp_path / "store")
    want = _expected(spark, sf_dir, hi=500)
    ops = []
    for _ in range(4):
        r = rng.random()
        if r < 0.55:
            ops.append(("maintain", rng.randrange(0, 600)))
        elif r < 0.8:
            ops.append(("maintain", None))
        else:
            ops.append(("rebuild", None))
    for op, cut in ops:
        if op == "maintain":
            maintain_rollup(
                spark, log, store, _cells, GROUP, _merge(), up_to=cut
            )
        else:
            rebuild_rollup(spark, log, store, _cells, GROUP, _merge())
        got = _got(
            serve_rollup_tail(
                spark, log, store, _cells, GROUP, _merge(),
                finish_fn=_finish,
            )
        )
        assert got == want, (op, cut)


def test_range_serve_exact_across_coverage_states(spark, sf_dir, tmp_path):
    """serve_rollup_range == the direct aggregation of the range,
    whether the range is fully stored, fully tail, or straddling; the
    stored side reads only the range's manifest days."""
    from presto_rakam_kafka_spark.streaming.serving import serve_rollup_range

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=600)

    def range_slice(lo, hi):
        from presto_rakam_kafka_spark.fixtures import read_table

        ev = read_table(spark, sf_dir, "events").filter(
            F.date_format("ts", "yyyy-MM-dd").between(lo, hi)
        )
        return {
            (r["day"], r["event_type"]): (r["n"], r["s"])
            for r in ev.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("s"))
            .collect()
        }

    for lo, hi in (
        ("2024-01-03", "2024-01-08"),   # fully stored
        ("2024-01-17", "2024-01-22"),   # straddles the ~60% cut
        ("2024-01-26", "2024-01-29"),   # fully in the tail
    ):
        got = _got(
            serve_rollup_range(
                spark, log, store, lo, hi, _cells, GROUP, _merge(),
                finish_fn=_finish,
            )
        )
        assert got == range_slice(lo, hi), (lo, hi)


def test_streaming_maintenance_is_family_generic_hll(spark, sf_dir, tmp_path):
    """run_rollup_maintenance accepts ANY mergeable cell family: HLL
    register cells (merge = register max) folded from the stream in
    bounded epochs equal the one-shot batch fold, and the estimator
    finish over the drained store matches the estimator over cells
    built directly from the raw table."""
    from presto_rakam_kafka_spark.operators.sketches import (
        HLL_P,
        _hll_exprs_spark,
    )
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentDataSource,
    )

    m = 1 << HLL_P
    reg, rho = _hll_exprs_spark("cast(uid as string)", m)

    def hll_cells(df_raw):
        v = F.from_json(F.col("value").cast("string"), "uid LONG")
        rows = df_raw.select(
            F.date_format("timestamp", "yyyy-MM-dd").alias("day"),
            v.getField("uid").alias("uid"),
        ).filter(F.col("uid").isNotNull())
        return rows.selectExpr("day", f"{reg} as reg", f"{rho} as rho").groupBy(
            "day", "reg"
        ).agg(F.max("rho").alias("m_day"))

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.sources.kafka_datasource import write_segments

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct(F.col("user_id").alias("uid"))).cast("binary")
        .alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=3, segment_rows=100)

    merge = [F.max("m_day").alias("m_day")]
    store = str(tmp_path / "store")
    spark.dataSource.register(KafkaSegmentDataSource)
    stream_raw = (
        spark.readStream.format("kafka_segments")
        .option("path", log)
        .option("maxRowsPerBatch", 150)
        .load()
    )
    run_rollup_maintenance(
        stream_raw, store, hll_cells, ["day", "reg"], merge,
        name="t_serve_hll_stream",
    )
    _g, txns, _h = _read_pointer(store)
    assert txns["stream"] >= 2  # multiple bounded epochs folded registers

    one_shot = str(tmp_path / "oneshot")
    maintain_rollup(spark, log, one_shot, hll_cells, ["day", "reg"], merge)
    streamed = {
        (r["day"], r["reg"]): r["m_day"]
        for r in read_store_cells(spark, store).collect()
    }
    batch = {
        (r["day"], r["reg"]): r["m_day"]
        for r in read_store_cells(spark, one_shot).collect()
    }
    assert streamed == batch  # register-max is epoch-order-independent
    # and equals registers built directly from the raw table
    direct = {
        (r["day"], r["reg"]): r["m_day"]
        for r in ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("user_id").alias("uid"),
        )
        .selectExpr("day", f"{reg} as reg", f"{rho} as rho")
        .groupBy("day", "reg")
        .agg(F.max("rho").alias("m_day"))
        .collect()
    }
    assert streamed == direct


def test_maintenance_lock_excludes_live_steals_dead(spark, sf_dir, tmp_path):
    """One maintainer per store at a time: a tick started while another
    process holds the store's maintenance lock QUEUES — nothing is
    committed until the holder lets go — and then folds the rest.
    Serving never takes the lock: serves answer while it is held."""
    import threading

    from presto_rakam_kafka_spark.locks import flock_guard

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)
    gen0 = _read_pointer(store)[0]

    done: list[object] = []

    def tick():
        try:
            done.append(maintain_rollup(spark, log, store, _cells, GROUP,
                                        _merge()))
        except BaseException as exc:  # noqa: BLE001 — asserted below
            done.append(exc)

    # a separate open file: it contends like another process would
    with flock_guard(os.path.join(store, ".MAINT_LOCK"), op_name="holder"):
        t = threading.Thread(target=tick)
        t.start()
        t.join(timeout=2.0)
        assert t.is_alive() and not done  # queued behind the holder
        assert _read_pointer(store)[0] == gen0
        # reads are lock-free
        assert read_store_cells(spark, store) is not None
        assert _got(serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )) == _expected(spark, sf_dir, hi=300)
    t.join(timeout=300)
    assert len(done) == 1 and isinstance(done[0], dict), done
    got = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    assert got == _expected(spark, sf_dir, hi=300)


def test_second_maintainer_queues_then_folds_the_rest(
    spark, sf_dir, tmp_path, caplog
):
    """Two maintainers tick one store at once: the second queues on the
    maintenance lock (its acquire logs a non-zero wait), re-reads the
    pointer the first committed and folds only what is left. Both
    return, neither is fenced, both txns are recorded and the serve is
    exact."""
    import logging
    import re
    import threading
    import time as _time

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)

    first_in = threading.Event()

    def slow_cells(df_raw):  # built by the first maintainer, under the lock
        first_in.set()
        _time.sleep(1.0)
        return _cells(df_raw)

    results: dict[str, object] = {}

    def run(app_id, cell_fn, up_to):
        try:
            results[app_id] = maintain_rollup(
                spark, log, store, cell_fn, GROUP, _merge(), up_to=up_to,
                app_id=app_id,
            )
        except BaseException as exc:  # noqa: BLE001 — asserted below
            results[app_id] = exc

    with caplog.at_level(
        logging.DEBUG, logger="presto_rakam_kafka_spark.genstore"
    ):
        a = threading.Thread(target=run, args=("a", slow_cells, 300))
        a.start()
        assert first_in.wait(timeout=120)
        b = threading.Thread(target=run, args=("b", _cells, None))
        b.start()
        a.join(timeout=300)
        b.join(timeout=300)
    assert set(results) == {"a", "b"}, results
    assert all(isinstance(v, dict) for v in results.values()), results
    _gen, txns, hwm = _read_pointer(store)
    assert {"a", "b"} <= set(txns)
    assert hwm == results["b"]
    waits = [
        float(m.group(1)) for r in caplog.records
        if (m := re.search(
            rf"maintenance_lock store={re.escape(store)} "
            r"op=maintain_rollup wait_ms=([\d.]+)", r.getMessage()
        ))
    ]
    assert len(waits) == 2 and waits[1] > 0, waits
    got = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    assert got == _expected(spark, sf_dir, hi=600)


def test_crashed_maintainer_releases_lock_via_kernel(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A maintainer that dies holding the store's maintenance lock
    leaves only the lock FILE behind: the kernel drops its flock, so
    the next tick proceeds at once — no lease expiry to wait out, no
    steal protocol."""
    import signal
    import subprocess
    import sys

    from presto_rakam_kafka_spark import genstore

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time\n"
         "from presto_rakam_kafka_spark import genstore\n"
         "with genstore.maintenance_lock(sys.argv[1], 'crashed'):\n"
         "    print('held', flush=True)\n"
         "    time.sleep(600)\n",
         store],
        stdout=subprocess.PIPE, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        holder.send_signal(signal.SIGKILL)
        holder.wait(timeout=30)
    finally:
        if holder.poll() is None:
            holder.kill()
            holder.wait()
    with open(os.path.join(store, ".MAINT_LOCK")) as fh:
        assert json.load(fh)["op"] == "crashed"  # the dead holder's record
    # a lock still held would time out instead of waiting 600 s
    monkeypatch.setattr(genstore, "MAINT_LOCK_TIMEOUT_S", 1.0)
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    got = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    assert got == _expected(spark, sf_dir, hi=300)


def test_serve_snapshot_consistent_under_concurrent_flip(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Torn-pointer regression (VERDICT r10 #1): a maintenance commit
    flipping the pointer BETWEEN the serve's pointer read and its
    cell-file resolution must not double-count the freshly-covered
    offsets — the serve resolves cells from the SAME snapshot
    generation it took the HWM from, and GC grace keeps that
    generation's files alive through the racing commit."""
    from presto_rakam_kafka_spark.streaming import serving as S

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=200)

    def flip_mid_serve():
        maintain_rollup(
            spark, log, store, _cells, GROUP, _merge(), up_to=500
        )

    monkeypatch.setattr(S, "_after_pointer_snapshot_hook", flip_mid_serve)
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    # with the r10 bug (cells resolved via a SECOND pointer read) this
    # merges the new generation's cells (covering offsets < 500) with a
    # tail scanned from the old hwm (200) — every row in [200, 500)
    # counted twice
    assert _got(served) == _expected(spark, sf_dir, hi=600)


def test_fresh_checkpoint_realigned_batches_stay_exactly_once(
    spark, sf_dir, tmp_path
):
    """ADVICE r10 #2: a later streaming maintainer resuming a PERSISTED
    store from a FRESH checkpoint (epoch ids restart at 0) with
    different batch boundaries must neither skip new rows nor
    double-fold covered ones — idempotency is offset-based (each batch
    is filtered to offsets >= the stored HWM), not epoch-based."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        KafkaSegmentDataSource,
    )

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300, segment_rows=100)
    store = str(tmp_path / "store")
    spark.dataSource.register(KafkaSegmentDataSource)

    def stream(cap):
        return (
            spark.readStream.format("kafka_segments")
            .option("path", log)
            .option("maxRowsPerBatch", cap)
            .load()
        )

    run_rollup_maintenance(
        stream(150), store, _cells, GROUP, _merge(), name="t_fresh_ckpt_a"
    )
    # more data lands; a NEW maintainer (fresh checkpoint → epoch 0,
    # smaller rate cap → batch boundaries that no longer align with the
    # first run's) replays the log from earliest against the same store
    _write_log(spark, sf_dir, log, lo=300, hi=600, segment_rows=100)
    run_rollup_maintenance(
        stream(70), store, _cells, GROUP, _merge(), name="t_fresh_ckpt_b"
    )
    assert _got(_finish(read_store_cells(spark, store))) == _expected(
        spark, sf_dir, hi=600
    )
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=600)


def test_maintenance_on_empty_log_is_noop(spark, tmp_path):
    """ADVICE r10 #3: maintenance (and rebuild) against an empty /
    not-yet-written log is a no-op, not a ValueError from
    ``max(())``."""
    from presto_rakam_kafka_spark.streaming.serving import rebuild_rollup

    log = str(tmp_path / "log")
    os.makedirs(log)
    store = str(tmp_path / "store")
    assert maintain_rollup(spark, log, store, _cells, GROUP, _merge()) == {}
    assert rebuild_rollup(spark, log, store, _cells, GROUP, _merge()) == {}
    gen, txns, hwm = _read_pointer(store)
    assert gen is None and hwm == {}  # nothing committed


def test_serve_respects_user_conf_override(spark, sf_dir, tmp_path):
    """ADVICE r10 #4: the pushdown conf is enabled once per session at
    source registration — a serve is a read path and must not keep
    re-flipping it, so a user's explicit later override SURVIVES
    subsequent serves. A serve reads the log tail natively (segment
    pruning is driver-side, no Python-source planning), so it still
    answers exactly with the conf off; silently re-enabling it per
    serve was the r10 bug."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=100)
    store = str(tmp_path / "store")
    key = "spark.sql.python.filterPushdown.enabled"
    # a first serve, before the override
    serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ).collect()
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        got = _got(
            serve_rollup_tail(
                spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
            )
        )
        assert got == _expected(spark, sf_dir, hi=100)
        assert spark.conf.get(key) == "false"  # override survived the serve
    finally:
        spark.conf.set(key, orig)
    # restored: serves work again
    got = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    assert got == _expected(spark, sf_dir, hi=100)


def test_fence_refuses_stale_commit_after_lease_steal(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The generation fence: a maintainer the maintenance lock does not
    reach (another host on a mount without flock semantics — here a
    thief calling the unlocked fold directly) commits between the
    victim's fold and its flip; the victim's commit must be REFUSED —
    the pointer stays on the thief's generation, nothing is clobbered,
    and the store still serves exactly."""
    from presto_rakam_kafka_spark.streaming import serving as S

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)

    def thief_commits_first():
        monkeypatch.setattr(S, "_before_flip_hook", None)
        S._maintain_locked(
            spark, log, store, _cells, GROUP, _merge(), "day", 200, "thief",
            False,
        )

    monkeypatch.setattr(S, "_before_flip_hook", thief_commits_first)
    with pytest.raises(S.FencedMaintenanceError):
        maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=300)

    gen, txns, hwm = _read_pointer(store)
    assert set(hwm.values()) == {200}  # the thief's commit, untouched
    assert "thief" in txns
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=600)
    # the store is not bricked: the next (properly-locked) tick works
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    _g, _t, hwm2 = _read_pointer(store)
    assert hwm2 == S._log_end_offsets(log)  # fully covered


def test_stale_writer_cannot_overwrite_committed_generation(
    spark, sf_dir, tmp_path
):
    """A thief that commits between a victim's pointer read and the
    victim's generation write: both derive the same next generation
    name, so a victim writing that name in place replaces the thief's
    COMMITTED cells before its fence refuses — the pointer then pairs
    the thief's HWM with the victim's cells and the serve double-counts.
    The victim must be refused without touching anything the thief
    published."""
    from presto_rakam_kafka_spark.streaming import serving as S

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)
    stolen: list[int] = []

    def cells_after_theft(df_raw):
        if not stolen:
            stolen.append(1)
            # a maintainer the flock does not reach: only the fence
            # stands between the stale fold and the store
            S._maintain_locked(
                spark, log, store, _cells, GROUP, _merge(), "day", 200,
                "thief", False,
            )
        return _cells(df_raw)

    with pytest.raises(S.FencedMaintenanceError):
        maintain_rollup(
            spark, log, store, cells_after_theft, GROUP, _merge(), up_to=300
        )
    _gen, txns, hwm = _read_pointer(store)
    assert set(hwm.values()) == {200} and "thief" in txns
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(served) == _expected(spark, sf_dir, hi=600)


def test_keyed_serve_pushes_predicate_into_stored_cell_scan(
    spark, sf_dir, tmp_path
):
    """VERDICT r10 #8: a serve with ``cell_filter`` (the dashboard's
    WHERE on a group key) reaches the stored cells' parquet scan as a
    pushed filter — row-group stats skip non-matching groups — and the
    filtered serve equals the filtered full-scan oracle."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=400)

    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish,
        cell_filter=F.col("event_type") == "click",
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    import re

    scans = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln or "FileScan parquet" in ln
    ]
    assert scans, plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(event_type,click\)", plan), plan

    exp = {
        k: v
        for k, v in _expected(spark, sf_dir, hi=600).items()
        if k[1] == "click"
    }
    assert _got(served) == exp


def test_keyed_day_and_range_serve_exact(spark, sf_dir, tmp_path):
    """cell_filter composes with the day / range serves (three prune
    axes: day bucket x row groups x key) and stays exact against the
    filtered full-scan oracle on both sides of the coverage cut."""
    from presto_rakam_kafka_spark.streaming.serving import (
        serve_rollup_day,
        serve_rollup_range,
    )

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=200)

    exp = {
        k: v
        for k, v in _expected(spark, sf_dir).items()
        if k[1] == "view"
    }
    days = sorted({k[0] for k in exp})
    mid = days[len(days) // 2]
    got_day = _got(
        serve_rollup_day(
            spark, log, store, mid, _cells, GROUP, _merge(),
            finish_fn=_finish, cell_filter=F.col("event_type") == "view",
        )
    )
    assert got_day == {k: v for k, v in exp.items() if k[0] == mid}
    got_range = _got(
        serve_rollup_range(
            spark, log, store, days[0], mid, _cells, GROUP, _merge(),
            finish_fn=_finish, cell_filter=F.col("event_type") == "view",
        )
    )
    assert got_range == {k: v for k, v in exp.items() if k[0] <= mid}


def test_flip_lock_two_flippers_exactly_one_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r11 #1 (the round's one weak flag): two maintainers that
    both passed their fold base on the SAME pointer read race the
    fence+flip critical section. The flock micro-lock admits exactly
    one at a time, so exactly ONE commit lands and the other raises
    FencedMaintenanceError — with the r11 observe-then-steal file lock,
    two racers could both enter and the first commit was silently
    last-writer-lost while its caller reported success. The first
    holder SLEEPS inside the critical section (via the post-acquire
    hook), proving the second genuinely blocked on the lock rather
    than winning by schedule."""
    import threading
    import time as _time

    from presto_rakam_kafka_spark.streaming import serving as S

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)
    gen0, txns0, hwm0 = _read_pointer(store)

    first_in = []

    def slow_first_holder():
        if not first_in:
            first_in.append(_time.monotonic())
            _time.sleep(0.5)  # hold the lock; the other flipper waits

    monkeypatch.setattr(S, "_after_flip_lock_hook", slow_first_holder)

    # Each new generation carries gen0's day files by manifest
    # reference (no new cells), so the HWM stays truthful whichever
    # commit wins.
    results: dict[str, object] = {}
    done_at: dict[str, float] = {}
    prev_days = _read_manifest(store, gen0)
    start = threading.Barrier(2, timeout=10)

    def commit(name: str) -> None:
        seq = int(gen0.split("-")[1]) + 1 + (1 if name == "b" else 0)
        gen = f"gen-{seq:010d}"
        gdir = os.path.join(store, gen)
        os.makedirs(gdir, exist_ok=True)
        with open(os.path.join(gdir, "_MANIFEST.json"), "w") as fh:
            json.dump({"days": prev_days}, fh)
        try:
            start.wait()
        except threading.BrokenBarrierError:
            pass
        try:
            S._fenced_flip(
                store, gen0, gen, dict(txns0, **{name: 1}), hwm0
            )
            results[name] = gen
        except S.FencedMaintenanceError as exc:
            results[name] = exc
        done_at[name] = _time.monotonic()

    t1 = threading.Thread(target=commit, args=("a",))
    t2 = threading.Thread(target=commit, args=("b",))
    t1.start(); t2.start(); t1.join(); t2.join()

    committed = [v for v in results.values() if isinstance(v, str)]
    fenced = [
        v for v in results.values()
        if isinstance(v, S.FencedMaintenanceError)
    ]
    assert len(committed) == 1 and len(fenced) == 1, results
    gen_now, _t, _h = _read_pointer(store)
    assert gen_now == committed[0]  # the winner's commit, not clobbered
    # the loser finished AFTER the first holder's in-lock sleep: it
    # blocked on the flock instead of racing through
    assert max(done_at.values()) >= first_in[0] + 0.5
    # the store still serves exactly after the next proper tick
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    got = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    assert got == _expected(spark, sf_dir, hi=600)


def test_flip_lock_crashed_holder_releases_via_kernel(
    spark, sf_dir, tmp_path
):
    """A flipper that CRASHES inside the critical section must not
    brick the store: the flock is kernel-owned and dies with the
    process, so a leftover .FLIP_LOCK FILE (with no live flock on it)
    is acquired immediately by the next maintainer — no TTL wait, no
    steal protocol."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)
    # the crash residue: the lock FILE exists, no process flocks it
    with open(os.path.join(store, ".FLIP_LOCK"), "w") as fh:
        fh.write("crashed flipper residue")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    got = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    assert got == _expected(spark, sf_dir, hi=300)


def test_residual_filter_broadcast_join_path_exact(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Above the codegen cutoff the per-partition offset residual
    switches from a literal boolean chain to a broadcast-joined bounds
    map (a 10^4-partition topic would otherwise plant a 10^4-term
    expression into codegen). Forcing the join path (cutoff -> 0),
    maintenance + serve must stay exact through every leg (tail lower
    bound, maintenance upper bound, streaming batch filter)."""
    from presto_rakam_kafka_spark.streaming import serving as S

    monkeypatch.setattr(S, "_BOUNDS_EXPR_MAX_PARTITIONS", 0)
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=200)
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=400)
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    # the join really is in the plan (broadcast hash join on partition)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert _got(served) == _expected(spark, sf_dir, hi=600)
    stored = _finish(read_store_cells(spark, store))
    assert _got(stored) == _expected(spark, sf_dir, hi=400)


def test_concurrent_serves_during_live_maintenance_always_exact(
    spark, sf_dir, tmp_path
):
    """LIVE concurrency receipt (not an injected hook): a maintainer
    thread advances the store tick by tick while the main thread
    serves repeatedly — every serve, whenever it lands relative to the
    pointer flips, must equal the full-scan truth. Exercises the
    snapshot-consistent serve + GC grace + atomic flips together under
    real interleaving."""
    import threading

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=900)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=100)
    truth = _expected(spark, sf_dir, hi=900)

    stop = threading.Event()
    errors: list[BaseException] = []

    def maintainer():
        cut = 150
        try:
            while not stop.is_set() and cut <= 900:
                maintain_rollup(
                    spark, log, store, _cells, GROUP, _merge(), up_to=cut
                )
                cut += 75
        except BaseException as exc:  # surfaced in the main thread
            errors.append(exc)

    def serve_once():
        # a serve that straddles MORE than `grace` commits fails LOUDLY
        # on the collected-then-deleted generation (documented GC-grace
        # contract — never a silent wrong answer); the dashboard client
        # retry is one fresh serve against the new pointer
        try:
            return _got(
                serve_rollup_tail(
                    spark, log, store, _cells, GROUP, _merge(),
                    finish_fn=_finish,
                )
            )
        except Exception:
            return _got(
                serve_rollup_tail(
                    spark, log, store, _cells, GROUP, _merge(),
                    finish_fn=_finish,
                )
            )

    t = threading.Thread(target=maintainer, daemon=True)
    t.start()
    try:
        for _ in range(6):
            assert serve_once() == truth
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, errors
    # post-drain serve still exact
    final = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    assert _got(final) == truth


def test_repair_days_refolds_purged_log_and_carries_rest(
    spark, sf_dir, tmp_path
):
    """GDPR repair for materialized aggregates: after purge_keys
    rewrites the LOG, the store's covered cells still embed the
    victim's rows — repair_rollup_days re-folds ONLY the affected day
    buckets from the purged log (two-axis-pruned scan), carries every
    other day by manifest reference, leaves the HWM untouched, and the
    post-repair serve equals SQL over the purged events."""
    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        purge_keys,
        write_segments,
    )
    from presto_rakam_kafka_spark.streaming.serving import repair_rollup_days

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 900)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_type", "value")).cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=3, segment_rows=150,
                   route_by_key=True)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    gen1, _t1, hwm1 = _read_pointer(store)
    man1 = _read_manifest(store, gen1)

    # victim: the single user with the NARROWEST day footprint — the
    # purge repair must touch only their days, not the whole calendar
    # (fixture users are long-lived, so even one user spans most days;
    # the receipt needs at least one untouched carried day)
    spans = (
        ev.groupBy("user_id")
        .agg(F.countDistinct(
            F.date_format("ts", "yyyy-MM-dd")).alias("nd"))
        .orderBy("nd", "user_id")
        .limit(1)
        .collect()
    )
    victim_ids = {r["user_id"] for r in spans}
    victims = [str(u).encode() for u in sorted(victim_ids)]
    purge_keys(log, victims)

    affected = sorted({
        r["day"] for r in ev.filter(F.col("user_id").isin(victim_ids))
        .select(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct().collect()
    })
    rewritten = repair_rollup_days(
        spark, log, store, affected, _cells, GROUP, _merge()
    )
    assert set(rewritten) <= set(affected)
    gen2, _t2, hwm2 = _read_pointer(store)
    assert gen2 > gen1 and hwm2 == hwm1  # history rewritten, coverage kept
    man2 = _read_manifest(store, gen2)
    untouched = set(man1) - set(affected)
    assert untouched, "victims must not span every day for this receipt"
    for d in untouched:
        assert man2[d] == man1[d]  # carried by reference, not rewritten

    # post-repair serve == SQL over events minus the victims
    kept = ev.filter(~F.col("user_id").isin(victim_ids))
    exp = {
        (r["day"], r["event_type"]): (r["n"], r["s"])
        for r in kept.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        ).collect()
    }
    got = _got(serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ))
    assert got == exp


def test_second_session_gets_pushdown_conf(spark, sf_dir, tmp_path):
    """ensure_segments_source preps EVERY session, not just the first:
    spark.conf is session-scoped while applicationId is shared, so the
    guard is a session-scoped MARKER CONF — a second newSession() gets
    the pushdown conf set too (the r11 review found an appId-keyed
    guard silently skipped it). Spark 4.1 itself cannot resolve a
    Python data source from a sibling session (register says
    DATA_SOURCE_ALREADY_EXISTS while lookup says NOT_FOUND — an
    upstream inconsistency this repo can't paper over), so the pinned
    contract is: OUR conf prep reaches the second session, and the
    residual failure is the upstream NOT_FOUND — never the
    pushdown-disabled error the conf guard used to cause."""
    import pyspark.errors as pe

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=100)
    store = str(tmp_path / "store")
    serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ).collect()  # session 1 prepped

    s2 = spark.newSession()
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        ensure_segments_source,
    )

    ensure_segments_source(s2)
    assert (
        s2.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
    )  # the conf reached the NEW session (the r11 fix)
    try:
        s2.read.format("kafka_segments").option("path", log).load().limit(
            1
        ).collect()
        resolvable = True
    except Exception as exc:
        resolvable = False
        # upstream wall, not our conf: the error names the source
        assert "DATA_SOURCE_NOT_FOUND" in str(exc), exc
        assert "filterPushdown" not in str(exc)
    # session 1 keeps working regardless
    got = _got(
        serve_rollup_tail(
            spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
        )
    )
    assert got == _expected(spark, sf_dir, hi=100)
    del pe, resolvable


def test_grouped_topn_prune_exact_and_bounded(spark):
    """VERDICT r11 #2: the exact per-group top-N's partition-local
    pre-prune (a) never changes the answer vs the naive full-shuffle
    window, and (b) bounds the window's input by candidates, not the
    full entity space — the receipt that a billion-entity topN tile
    does not shuffle the whole cell store per dashboard refresh."""
    from presto_rakam_kafka_spark.operators.ranks import (
        _local_topn_prune,
        grouped_topn,
    )

    # 20k (group, entity) cells across 8 partitions, skewed counts
    cells = (
        spark.range(0, 20000, 1, 8)
        .select(
            (F.col("id") % 10).cast("string").alias("day"),
            F.col("id").alias("user_id"),
            (F.pmod(F.col("id") * 2654435761, F.lit(9973))).alias("n_events"),
        )
    )
    order = [("n_events", False), ("user_id", True)]
    pruned = _local_topn_prune(cells, ["day"], order, 3)
    n_pruned = pruned.count()
    # receipt: candidates ≤ batches × groups × n, far below the input
    assert n_pruned < 20000 / 10, n_pruned
    got = {
        (r["day"], r["rk"]): (r["user_id"], r["n_events"])
        for r in grouped_topn(cells, ["day"], order, 3).collect()
    }
    naive = {
        (r["day"], r["rk"]): (r["user_id"], r["n_events"])
        for r in grouped_topn(
            cells, ["day"], order, 3, prune=False
        ).collect()
    }
    assert got == naive and len(got) == 10 * 3


def test_sql_over_serving_view_snapshot_consistent_under_flip(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r11 #6: the SQL-view serving surface (register the serve
    as a temp view, run ad-hoc SQL on top) must inherit the serve's
    snapshot consistency — a maintenance commit flipping the pointer
    between the serve's pointer read and the SQL query's execution
    must not double-count. The serve takes its (gen, hwm) snapshot
    EAGERLY at build time; the lazy SQL action later resolves the same
    snapshot's files (GC grace keeps them alive through the racing
    commit)."""
    from presto_rakam_kafka_spark.streaming import serving as S

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=600)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=200)

    def flip_mid_serve():
        maintain_rollup(
            spark, log, store, _cells, GROUP, _merge(), up_to=500
        )

    monkeypatch.setattr(S, "_after_pointer_snapshot_hook", flip_mid_serve)
    served = serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    )
    served.createOrReplaceTempView("serving_view_flip_test")
    # ad-hoc SQL over the continuously-maintained view — the product
    # surface of sql_over_serving_view
    got = {
        r["event_type"]: (r["n_days"], r["n"], r["s"])
        for r in spark.sql(
            """
            SELECT event_type, count(1) AS n_days, sum(n) AS n, sum(s) AS s
            FROM serving_view_flip_test GROUP BY event_type
            """
        ).collect()
    }
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, 0.0])
    for (day, et), (n, s) in _expected(spark, sf_dir, hi=600).items():
        agg[et][0] += 1
        agg[et][1] += n
        agg[et][2] += s
    assert set(got) == set(agg)
    for et, (n_days, n, s) in got.items():
        assert (n_days, n) == (agg[et][0], agg[et][1]), et
        assert abs(s - agg[et][2]) < 1e-6, et  # sums of 2-dec values


def test_fenced_flip_n_way_race_single_commit(tmp_path):
    """N flippers that all based their fold on the SAME pointer read
    race _fenced_flip concurrently: the flock micro-lock + fence admit
    exactly one commit; the rest raise FencedMaintenanceError and the
    pointer lands on the winner (no Spark needed — this is pure
    store-metadata concurrency, repeated to catch scheduling windows)."""
    import threading

    from presto_rakam_kafka_spark.streaming import serving as S

    for trial in range(10):
        store = str(tmp_path / f"store{trial}")
        os.makedirs(os.path.join(store, "gen-0000000000"))
        with open(
            os.path.join(store, "gen-0000000000", "_MANIFEST.json"), "w"
        ) as fh:
            json.dump({"days": {}}, fh)
        S._flip_pointer(store, "gen-0000000000", {}, {0: 10})
        results: dict[str, object] = {}

        def commit(name: str, seq: int) -> None:
            gen = f"gen-{seq:010d}"
            gdir = os.path.join(store, gen)
            os.makedirs(gdir, exist_ok=True)
            with open(os.path.join(gdir, "_MANIFEST.json"), "w") as fh:
                json.dump({"days": {}}, fh)
            try:
                S._fenced_flip(
                    store, "gen-0000000000", gen, {name: 1}, {0: 10}
                )
                results[name] = gen
            except S.FencedMaintenanceError as exc:
                results[name] = exc

        ts = [
            threading.Thread(target=commit, args=(f"t{i}", i + 1))
            for i in range(4)
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        committed = [v for v in results.values() if isinstance(v, str)]
        assert len(committed) == 1, (trial, results)
        gen_now, _t, _h = S._read_pointer(store)
        assert gen_now == committed[0], (trial, results)


def test_victim_days_and_one_call_purge_repair(spark, sf_dir, tmp_path):
    """VERDICT r11 #7: `victim_rollup_days` derives the repair day list
    from the PRE-purge log (coverage-bounded, key-filtered scan) and
    `purge_and_repair_rollup` sequences derive → purge → repair in the
    only safe order. Partial coverage edge: victim rows BEYOND the HWM
    were never folded, so their days need no repair — the purge removes
    them from the log and the post-repair serve (stored ∪ purged tail)
    still equals SQL over events minus the victims."""
    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        write_segments,
    )
    from presto_rakam_kafka_spark.streaming.serving import (
        purge_and_repair_rollup,
        victim_rollup_days,
    )

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 900)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_type", "value")).cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=3, segment_rows=150,
                   route_by_key=True)
    store = str(tmp_path / "store")
    # PARTIAL coverage: the store covers offsets < 600 only
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=600)
    _gen1, _t1, hwm1 = _read_pointer(store)

    victim_ids = {
        r["user_id"]
        for r in ev.filter(F.col("user_id") % 7 == 3)
        .select("user_id").distinct().collect()
    }
    victims = [str(u).encode() for u in sorted(victim_ids)]

    # the helper's day list == the victims' covered-prefix event days
    expected_days = sorted({
        r["day"]
        for r in ev.filter(
            F.col("user_id").isin(victim_ids) & (F.col("event_id") < 600)
        )
        .select(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct().collect()
    })
    assert victim_rollup_days(spark, log, store, victims) == expected_days

    rewritten = purge_and_repair_rollup(
        spark, log, store, victims, _cells, GROUP, _merge()
    )
    assert set(rewritten) <= set(expected_days)
    _gen2, _t2, hwm2 = _read_pointer(store)
    assert hwm2 == hwm1  # repair rewrites history, never coverage

    kept = ev.filter(~F.col("user_id").isin(victim_ids))
    exp = {
        (r["day"], r["event_type"]): (r["n"], r["s"])
        for r in kept.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        ).collect()
    }
    got = _got(serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ))
    assert got == exp


def test_victim_days_broadcast_join_path(spark, sf_dir, tmp_path, monkeypatch):
    """A GDPR batch larger than the isin cutoff takes the broadcast
    semi-join path; the derived day list is identical to the isin
    path's (the cutoff is a plan-shape choice, never a semantics
    choice)."""
    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        write_segments,
    )
    from presto_rakam_kafka_spark.streaming import serving as S

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_type", "value")).cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    write_segments(raw, log, num_partitions=3, segment_rows=150,
                   route_by_key=True)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())

    victims = [
        str(r["user_id"]).encode()
        for r in ev.select("user_id").distinct().limit(25).collect()
    ]
    via_isin = S.victim_rollup_days(spark, log, store, victims)
    monkeypatch.setattr(S, "_VICTIM_ISIN_MAX", 5)  # force the join path
    via_join = S.victim_rollup_days(spark, log, store, victims)
    assert via_join == via_isin and via_isin  # same days, non-empty


def test_purge_and_repair_holds_lease_across_sequence(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-12 review finding #1: the one-call GDPR path must hold the
    store's maintenance lock across derive → purge → repair. A
    maintenance tick interleaving between the day derivation and the
    purge would fold victim rows beyond the derive-time HWM into cells
    the repair list doesn't cover — a permanent leak the purged log
    can't even reveal. Receipt: a maintainer started WHILE the purge
    runs queues and commits only after the repair's commit, folding the
    purged log."""
    import threading
    import time as _time

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.sources import kafka_datasource as KD
    from presto_rakam_kafka_spark.streaming import serving as S

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_type", "value")).cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    KD.write_segments(raw, log, num_partitions=3, segment_rows=150,
                      route_by_key=True)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=200)

    raced: list[object] = []
    commits: list[str] = []
    real_purge = KD.purge_keys
    real_commit_days = S._commit_days

    def recording_commit_days(store_, gen_read, txns, txn, *args):
        out = real_commit_days(store_, gen_read, txns, txn, *args)
        commits.append(txn[0])
        return out

    def racer():
        try:
            maintain_rollup(spark, log, store, _cells, GROUP, _merge(),
                            app_id="racer")
            raced.append("maintained")
        except BaseException as exc:  # noqa: BLE001 — asserted below
            raced.append(exc)

    racer_t = threading.Thread(target=racer)

    def racing_purge(path, keys, partitions=None):
        # a live maintainer ticks mid-purge: the held lock must queue it
        racer_t.start()
        _time.sleep(1.0)  # the racer is parked on the lock by now
        assert not raced
        return real_purge(path, keys, partitions)

    monkeypatch.setattr(S, "_commit_days", recording_commit_days)
    monkeypatch.setattr(KD, "purge_keys", racing_purge)
    victims = [
        str(r["user_id"]).encode()
        for r in ev.filter(F.col("user_id") % 5 == 2)
        .select("user_id").distinct().collect()
    ]
    S.purge_and_repair_rollup(
        spark, log, store, victims, _cells, GROUP, _merge()
    )
    racer_t.join(timeout=300)
    assert not racer_t.is_alive() and raced == ["maintained"], raced
    assert commits == ["repair", "racer"], commits
    # post-repair serve still exact over the purged covered prefix +
    # purged tail
    victim_ids = {int(v.decode()) for v in victims}
    kept = ev.filter(~F.col("user_id").isin(victim_ids))
    exp = {
        (r["day"], r["event_type"]): (r["n"], r["s"])
        for r in kept.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        ).collect()
    }
    got = _got(serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ))
    assert got == exp


def test_grouped_topn_keeps_null_group_rows(spark):
    """Round-12 review finding #2: pandas groupby drops null group keys
    by default, but Spark's window ranks the null partition — the prune
    must keep them (dropna=False) so prune and no-prune agree."""
    from presto_rakam_kafka_spark.operators.ranks import grouped_topn

    rows = [("a", 1, 10), ("a", 2, 20), (None, 3, 30), (None, 4, 40),
            (None, 5, 25), ("a", 6, 5), (None, 7, 35)]
    df = spark.createDataFrame(rows, "day STRING, uid LONG, n LONG")
    order = [("n", False), ("uid", True)]
    got = {
        (r["day"], r["rk"]): r["uid"]
        for r in grouped_topn(df, ["day"], order, 2).collect()
    }
    naive = {
        (r["day"], r["rk"]): r["uid"]
        for r in grouped_topn(df, ["day"], order, 2, prune=False).collect()
    }
    assert got == naive
    assert (None, 1) in got  # the null group ranked, not dropped


def test_grouped_topn_nullable_order_column_exact(spark):
    """ADVICE r12 #4: Spark's window orders nulls first ascending /
    last descending while pandas puts NaN last regardless, so a
    sort-based prune could drop a row the window ranks. The prune now
    passes every null-order row through — prune and no-prune must agree
    on a nullable order column in BOTH directions."""
    from presto_rakam_kafka_spark.operators.ranks import grouped_topn

    rows = [("a", 1, 10), ("a", 2, None), ("a", 3, 30), ("a", 4, None),
            ("b", 5, None), ("b", 6, 7), ("a", 7, 20)]
    df = spark.createDataFrame(
        rows, "day STRING, uid LONG, n LONG"
    ).repartition(3)
    for asc in (True, False):
        order = [("n", asc), ("uid", True)]
        got = {
            (r["day"], r["rk"]): r["uid"]
            for r in grouped_topn(df, ["day"], order, 2).collect()
        }
        naive = {
            (r["day"], r["rk"]): r["uid"]
            for r in grouped_topn(df, ["day"], order, 2, prune=False).collect()
        }
        assert got == naive, f"asc={asc}"
    # ascending: nulls rank FIRST in Spark — the prune must have kept them
    asc_top = {
        (r["day"], r["rk"]): r["uid"]
        for r in grouped_topn(
            df, ["day"], [("n", True), ("uid", True)], 2
        ).collect()
    }
    assert asc_top[("a", 1)] in (2, 4) and asc_top[("a", 2)] in (2, 4)


def test_grouped_topn_adaptive_prune_gate(spark):
    """VERDICT r12 #3: a caller-supplied row estimate below the
    crossover skips the Arrow prune (no MapInPandas in the plan — the
    transfer costs more than the small exchange), while at-or-above it
    — or with no estimate — the scale-bounded prune stays engaged.
    Results identical either way."""
    from presto_rakam_kafka_spark.operators import ranks
    from presto_rakam_kafka_spark.operators.ranks import grouped_topn

    rows = [("a", i, i * 7 % 13) for i in range(40)]
    df = spark.createDataFrame(rows, "day STRING, uid LONG, n LONG")
    order = [("n", False), ("uid", True)]

    def plan(top):
        return top._jdf.queryExecution().optimizedPlan().toString()

    small = grouped_topn(df, ["day"], order, 3, input_rows=40)
    assert "MapInPandas" not in plan(small)
    big = grouped_topn(
        df, ["day"], order, 3,
        input_rows=ranks.GROUPED_TOPN_PRUNE_MIN_ROWS,
    )
    assert "MapInPandas" in plan(big)
    default = grouped_topn(df, ["day"], order, 3)
    assert "MapInPandas" in plan(default)
    key = lambda out: sorted((r["uid"], r["rk"]) for r in out.collect())  # noqa: E731
    assert key(small) == key(big) == key(default)


def test_hand_repair_clears_covered_intent_days(spark, sf_dir, tmp_path):
    """VERDICT r12 #7: an operator recovering from an interrupted
    purge+repair BY HAND (repair_rollup_days) must clear the covered
    days from the .REPAIR_INTENT journal — otherwise the next one-call
    invocation re-repairs them forever. Uncovered days stay journaled
    and are picked up by the next purge_and_repair_rollup."""
    from presto_rakam_kafka_spark.streaming import serving as S

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=400)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    gen, _t, _h = _read_pointer(store)
    days = sorted(_read_manifest(store, gen))
    assert len(days) >= 2
    d1, d2 = days[0], days[1]
    intent = os.path.join(store, ".REPAIR_INTENT")
    with open(intent, "w") as fh:
        json.dump({"days": [d1, d2]}, fh)

    # hand repair covers d1 only → journal keeps exactly d2
    rewritten = S.repair_rollup_days(
        spark, log, store, [d1], _cells, GROUP, _merge()
    )
    assert rewritten == [d1]
    with open(intent) as fh:
        assert json.load(fh)["days"] == [d2]

    # the one-call path then repairs ONLY the pending d2 (no double
    # repair of d1) and retires the journal
    rewritten2 = S.purge_and_repair_rollup(
        spark, log, store, [b"no-such-key"], _cells, GROUP, _merge()
    )
    assert rewritten2 == [d2]
    assert not os.path.exists(intent)
    got = _got(serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ))
    assert got == _expected(spark, sf_dir, hi=400)


def test_concurrent_maintainers_and_serves_storm(spark, sf_dir, tmp_path):
    """Round-13 composition stress: four maintainers hammer ONE store
    (maintenance lock and graced GC active) while serves read
    concurrently. Invariants: maintainers queue on the lock, so none
    sees any error — not even FencedMaintenanceError — serves never
    crash (the graced GC keeps their snapshots alive), and the final
    serve equals truth exactly."""
    import threading

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=400)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=50)

    unexpected: list[BaseException] = []

    def maintainer(seed: int):
        for i in range(3):
            try:
                maintain_rollup(
                    spark, log, store, _cells, GROUP, _merge(),
                    up_to=100 + 50 * ((seed + i) % 6),
                )
            except BaseException as exc:  # noqa: BLE001 — surfaced below
                unexpected.append(exc)

    def server():
        for _ in range(4):
            try:
                got = _got(serve_rollup_tail(
                    spark, log, store, _cells, GROUP, _merge(),
                    finish_fn=_finish,
                ))
                assert got  # non-empty — a torn view would diverge
            except BaseException as exc:  # noqa: BLE001
                unexpected.append(exc)

    threads = [threading.Thread(target=maintainer, args=(s,)) for s in range(4)]
    threads += [threading.Thread(target=server) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not unexpected, unexpected[:3]
    # the storm over: one clean tick to the end, then exact truth
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    got = _got(serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ))
    assert got == _expected(spark, sf_dir, hi=400)


def test_flock_unsupported_degrades_not_bricks(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-12 review finding #3: on a filesystem without flock
    semantics (ENOTSUP), the flip lock and the maintenance lock degrade
    to fence-only — maintenance and serves keep working instead of
    stalling out with a 'wedged filesystem' error on every commit."""
    import errno
    import fcntl as _fcntl

    def no_flock(fd, op):
        raise OSError(errno.ENOTSUP, "flock not supported")

    monkeypatch.setattr(_fcntl, "flock", no_flock)
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=150)
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())
    got = _got(serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ))
    assert got == _expected(spark, sf_dir, hi=300)


def test_grouped_topn_property_prune_equals_window(spark):
    """Property (hypothesis): for random cell tables — random group
    keys incl. NULLs, random measures incl. heavy ties, random k and
    partition counts — grouped_topn with the partition-local pre-prune
    equals the naive full-shuffle window row-for-row. Ties are broken
    by the trailing uid column, so the winner set is deterministic and
    the equality is exact, not set-approximate."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from presto_rakam_kafka_spark.operators.ranks import grouped_topn

    row = st.tuples(
        st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),  # group
        st.integers(0, 7),  # measure: small range -> many ties
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        rows=st.lists(row, min_size=1, max_size=40),
        k=st.integers(1, 4),
        parts=st.integers(1, 5),
    )
    def check(rows, k, parts):
        data = [(g, i, n) for i, (g, n) in enumerate(rows)]
        df = spark.createDataFrame(
            data, "grp STRING, uid LONG, n LONG"
        ).repartition(parts)
        order = [("n", False), ("uid", True)]

        def key(t):
            return (t[0] is None, t[0] or "", t[1], t[2], t[3])

        got = sorted(
            (
                (r["grp"], r["rk"], r["uid"], r["n"])
                for r in grouped_topn(df, ["grp"], order, k).collect()
            ),
            key=key,
        )
        naive = sorted(
            (
                (r["grp"], r["rk"], r["uid"], r["n"])
                for r in grouped_topn(
                    df, ["grp"], order, k, prune=False
                ).collect()
            ),
            key=key,
        )
        assert got == naive

    check()


def test_purge_and_repair_crash_between_purge_and_repair_recovers(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash-safety of the one-call GDPR path: a crash AFTER the log
    purge but BEFORE the repair would otherwise leak stale cells
    forever (the purged log can no longer derive the victims' days).
    The .REPAIR_INTENT journal written pre-purge makes recovery a
    simple re-invocation: the pending days merge into the next run's
    repair set even though the purged log yields none."""
    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.sources import kafka_datasource as KD
    from presto_rakam_kafka_spark.streaming import serving as S

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_type", "value")).cast("binary").alias("value"),
        F.col("ts").alias("timestamp"),
    )
    log = str(tmp_path / "log")
    KD.write_segments(raw, log, num_partitions=3, segment_rows=150,
                      route_by_key=True)
    store = str(tmp_path / "store")
    maintain_rollup(spark, log, store, _cells, GROUP, _merge())

    victims = [
        str(r["user_id"]).encode()
        for r in ev.filter(F.col("user_id") % 5 == 2)
        .select("user_id").distinct().collect()
    ]

    real_purge = KD.purge_keys

    def purge_then_crash(path, keys, partitions=None):
        real_purge(path, keys, partitions)
        raise RuntimeError("simulated crash after purge, before repair")

    monkeypatch.setattr(KD, "purge_keys", purge_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        S.purge_and_repair_rollup(
            spark, log, store, victims, _cells, GROUP, _merge()
        )
    intent = os.path.join(store, ".REPAIR_INTENT")
    assert os.path.exists(intent)  # the journal survived the crash
    # the cells still embed the victims at this point (repair never ran)

    # recovery: re-invoke (purge of already-purged keys is a no-op and
    # the purged log derives NO days — only the journal knows)
    monkeypatch.setattr(KD, "purge_keys", real_purge)
    rewritten = S.purge_and_repair_rollup(
        spark, log, store, victims, _cells, GROUP, _merge()
    )
    assert rewritten  # the journaled days were repaired
    assert not os.path.exists(intent)  # fulfilled

    victim_ids = {int(v.decode()) for v in victims}
    kept = ev.filter(~F.col("user_id").isin(victim_ids))
    exp = {
        (r["day"], r["event_type"]): (r["n"], r["s"])
        for r in kept.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        ).collect()
    }
    got = _got(serve_rollup_tail(
        spark, log, store, _cells, GROUP, _merge(), finish_fn=_finish
    ))
    assert got == exp
