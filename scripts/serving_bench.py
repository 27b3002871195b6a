"""Serving-store economics receipt (SCALE_NOTES §rollup-serving).

Stages the sf0.1 events table as a segment log (30 partitions, 500-row
segments — hundreds of prunable segments), maintains the rollup store
over the first ~80% of offsets, then measures what the round-10
continuous-query surface actually buys:

* serve (cells + tail)   vs   full-scan aggregate — wall time AND
  segments planned (the tail scan should plan ~20% of the splits);
* a second maintenance tick after more data lands — segments read
  ∝ new data, day buckets rewritten ∝ touched days (manifest carries
  the rest by reference).

Usage: python scripts/serving_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from presto_rakam_kafka_spark.fixtures import read_table, staging_mkdtemp  # noqa: E402
from presto_rakam_kafka_spark.session import get_spark  # noqa: E402
from presto_rakam_kafka_spark.sources.kafka_datasource import (  # noqa: E402
    KafkaSegmentDataSource,
    KafkaSegmentReader,
    _enumerate_segments,
    write_segments,
)
from presto_rakam_kafka_spark.streaming.serving import (  # noqa: E402
    _read_manifest,
    _read_pointer,
    maintain_rollup,
    serve_rollup_tail,
)

GROUP = ["day", "event_type"]


def cell_fn(df_raw):
    v = F.from_json(
        F.col("value").cast("string"),
        "event_id LONG, user_id LONG, event_type STRING, value DOUBLE",
    )
    rows = df_raw.select(
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"), v.alias("r")
    ).select("day", "r.event_type", "r.value")
    return rows.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )


def merge():
    return [F.sum("n").alias("n"), F.sum("s").alias("s")]


def finish(cells):
    return cells.select("day", "event_type", "n", F.round("s", 2).alias("s"))


def planned_splits(log: str, lo: int | None) -> int:
    from pyspark.sql.datasource import GreaterThanOrEqual

    r = KafkaSegmentReader({"path": log})
    if lo is not None:
        r.pushFilters([GreaterThanOrEqual(("offset",), lo)])
    else:
        r.pushFilters([])
    return len(r.partitions())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="serving_bench")
    ev = read_table(spark, sf_dir, "events")
    n = ev.count()
    cut1 = int(n * 0.8)
    cut0 = int(n * 0.4)

    log = staging_mkdtemp("serve_bench_log_")
    raw = ev.select(
        F.col("event_id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
        .cast("binary")
        .alias("value"),
        F.col("ts").alias("timestamp"),
    )
    write_segments(raw, log, num_partitions=30, segment_rows=500)
    segs = _enumerate_segments(log)
    n_segments = sum(len(s) for s in segs.values())

    store = staging_mkdtemp("serve_bench_store_")
    # tick 1: cover 40%, tick 2: cover to 80% — measures incremental I/O
    t0 = time.time()
    maintain_rollup(spark, log, store, cell_fn, GROUP, merge(), up_to=cut0)
    t_tick1 = time.time() - t0
    gen1, _t, hwm1 = _read_pointer(store)
    man1 = _read_manifest(store, gen1)

    tick2_tail_splits = planned_splits(log, min(hwm1.values()))
    t0 = time.time()
    maintain_rollup(spark, log, store, cell_fn, GROUP, merge(), up_to=cut1)
    t_tick2 = time.time() - t0
    gen2, _t, hwm2 = _read_pointer(store)
    man2 = _read_manifest(store, gen2)
    carried = sum(
        1 for d, fs in man2.items() if all(f.startswith(gen1) for f in fs)
    )
    rewritten = len(man2) - carried

    # serve: cells + tail beyond 80%
    serve_tail_splits = planned_splits(log, min(hwm2.values()))
    t0 = time.time()
    served = serve_rollup_tail(
        spark, log, store, cell_fn, GROUP, merge(), finish_fn=finish
    )
    n_served = served.count()
    t_serve = time.time() - t0

    # the reference's behavior: full-scan aggregate of the whole log
    spark.dataSource.register(KafkaSegmentDataSource)
    t0 = time.time()
    full = finish(
        cell_fn(
            spark.read.format("kafka_segments").option("path", log).load()
        ).groupBy(*GROUP).agg(*merge())
    )
    n_full = full.count()
    t_full = time.time() - t0

    assert n_served == n_full, (n_served, n_full)
    print(json.dumps({
        "sf_dir": sf_dir,
        "rows": n,
        "segments_total": n_segments,
        "tick1_s": round(t_tick1, 2),
        "tick2_s": round(t_tick2, 2),
        "tick2_tail_splits": tick2_tail_splits,
        "tick2_days_rewritten": rewritten,
        "tick2_days_carried": carried,
        "serve_tail_splits": serve_tail_splits,
        "serve_s": round(t_serve, 2),
        "full_scan_s": round(t_full, 2),
        "serve_groups": n_served,
    }))


if __name__ == "__main__":
    main()
