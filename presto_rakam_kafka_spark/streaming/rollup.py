"""Bounded-state streaming rollups (round 10, VERDICT r9 next-2).

The fold-then-finish pattern keeps a streaming aggregation's state in
Spark's complete-mode store, which grows with STREAM LIFETIME even when
the finish only consumes a trailing window — on an unbounded production
stream the state store, not the data, becomes the scale limit. This
module gives window-bounded finishes a fold whose state is bounded by
(live-window days × keys):

* :func:`run_windowed_cells` — per-trigger compaction of the cell
  store to the live window. Correct for finishes that cut a trailing
  window anchored at the FINAL max day (`stream_audience_rule`): the
  running max day is monotone, so a cell evicted at trigger t (older
  than max_day(t) − window) can never re-enter the final window —
  eviction is exactly output-preserving.

* :func:`run_rolling_pairs` — emit-on-close for finishes that output a
  per-anchor-day SERIES (`stream_hll_rolling_users`): anchor day d
  needs pairs from [d−w+1, d]; once the stream's max day passes d by
  more than ``allowed_lateness_days`` (the watermark slack — events
  later than that are past their anchor's emitted row and dropped,
  the ``withWatermark`` contract), d's row is emitted to an append
  store and every pair too old for any unemitted anchor is evicted.
  The emitted ∪ live-tail union equals the unbounded finish
  row-for-row for every event inside the slack.

Both folds are exactly-once through the ``genstore`` commit protocol:
each trigger publishes one state generation with the (app_id, epoch)
txn record, so a replayed epoch within one checkpoint lineage is a
no-op (pointer unchanged) and a fresh checkpoint presents a fresh
app_id. The pointer's payload is ``emitted_thru``.

Which rollups need this: window-bounded finishes (trailing-N-day
audiences, rolling distincts). Lifetime-bounded rollups — retention
triangles, cohort LTV, daily series for forecasting — keep state that
IS the answer (days × small keys), which grows with calendar days, not
stream volume; they stay complete-mode folds by design (SCALE_NOTES
§bounded-rollups).

Reference basis: the reference engine is batch-over-log only
(`kafka/KafkaRecordSet.java` scans segments; no streaming state at
all) — this bounds the beyond-reference streaming tier.
"""

from __future__ import annotations

import datetime as _dt
import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from presto_rakam_kafka_spark import genstore
from presto_rakam_kafka_spark.fixtures import staging_mkdtemp

_TIER = sys.modules[__name__]


def _read_pointer(path: str) -> tuple[str | None, dict, str | None]:
    """(current_gen, txns, emitted_thru) — all None/empty on a fresh
    store."""
    gen, txns, payload = genstore.read_pointer(path)
    return gen, txns, payload.get("emitted_thru")


def _flip_pointer(
    path: str, gen: str, txns: dict, emitted_thru: str | None = None
) -> None:
    genstore.write_pointer(path, gen, txns, {"emitted_thru": emitted_thru})


def _fenced_flip(
    path: str, gen_read: str | None, gen: str, txns: dict,
    emitted_thru: str | None = None,
) -> None:
    genstore.fenced_flip(
        path, gen_read, gen, txns, {"emitted_thru": emitted_thru}, _TIER
    )


#: test-injection point: called right before a fold commit's fence
#: check — a fencing test uses it to land a second maintainer's commit
#: inside the window.
_before_flip_hook = None


def _drain(stream_df: DataFrame, store: str, name: str, app_id: str,
           op_name: str, fold) -> tuple[str | None, dict, str | None]:
    """Drain ``stream_df`` (AvailableNow) through
    ``fold(batch_df, epoch_id, gen, txns, emitted_thru, held)`` and
    return the final pointer. Each fold runs under the store's
    ``genstore.maintenance_lock`` — two maintainers would derive the
    same next generation from one pointer read; locked, they queue and
    the second reads the first's commit — and a replayed epoch never
    reaches it. A caller-supplied ``store`` need not exist yet: the
    lock file's O_CREAT open needs the dir."""
    os.makedirs(store, exist_ok=True)

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        with genstore.maintenance_lock(store, op_name) as held:
            cur, txns, emitted_thru = _read_pointer(store)
            if txns.get(app_id, -1) >= epoch_id:
                return  # replayed epoch: exact no-op
            fold(batch_df, epoch_id, cur, txns, emitted_thru, held)

    (
        stream_df.writeStream.foreachBatch(on_batch)
        .queryName(name)
        .option("checkpointLocation", staging_mkdtemp(f"ckpt_{name}_"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return _read_pointer(store)


def run_windowed_cells(
    stream_df: DataFrame,
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    day_col: str,
    window_days: int,
    name: str,
    path: str | None = None,
    app_id: str = "default",
) -> DataFrame:
    """Drain ``stream_df`` through a foreachBatch fold whose state is
    compacted to the live trailing window every trigger, and return
    the final cell store as a DataFrame.

    ``cell_fn(batch_df) -> cells`` builds the per-batch cells (the
    same groupBy the complete-mode fold ran); ``group_cols`` name the
    cell key (including ``day_col``); ``merge_exprs`` re-aggregate
    cells across triggers (sum/min/max — each must be associative with
    the batch aggregate). State after every trigger holds ONLY cells
    with ``day_col >= max(day_col) - (window_days-1)`` — bounded by
    live-window days × keys, not stream lifetime. The per-trigger max
    day is a one-row driver scalar (a bounded fit).

    No lateness slack is needed HERE (unlike :func:`run_rolling_pairs`,
    which emits closed rows): eviction is anchored to the running max
    day, which only grows, and the finish cuts its trailing window at
    the FINAL max — so any evicted day satisfies
    ``day < max_t − (w−1) ≤ max_final − (w−1)`` and sits outside the
    final window regardless of how late further events for it arrive.
    A late event for an in-window day finds its cell still live and
    merges exactly; a late event for an out-of-window day creates a
    cell the very next compaction evicts. Eviction is exactly
    output-preserving under arbitrary lateness (tested)."""
    spark = stream_df.sparkSession
    store = path or staging_mkdtemp(f"rollup_{name}_")

    def fold(batch_df, epoch_id, cur, txns, _thru, held) -> None:
        cells = cell_fn(batch_df)
        if cur is not None:
            prev = spark.read.parquet(os.path.join(store, cur))
            cells = prev.unionByName(cells)
        merged = cells.groupBy(*group_cols).agg(*merge_exprs)
        mx = merged.agg(F.max(day_col).alias("m")).collect()[0]["m"]
        if mx is not None:
            merged = merged.filter(
                F.col(day_col)
                >= F.lit(mx) - F.expr(f"INTERVAL {window_days - 1} DAYS")
            )
        with genstore.Generation(store, cur, _TIER, reclaim=held) as g:
            merged.write.mode("overwrite").parquet(g.dir)
            g.commit(txns, (app_id, epoch_id), keep_last=1)

    cur, _t, _e = _drain(
        stream_df, store, name, app_id, "run_windowed_cells", fold
    )
    if cur is None:  # empty stream
        return cell_fn(
            spark.createDataFrame([], stream_df.schema)
        ).groupBy(*group_cols).agg(*merge_exprs)
    return spark.read.parquet(os.path.join(store, cur))


def run_rolling_pairs(
    stream_df: DataFrame,
    pair_fn,
    finish_fn,
    day_col: str,
    window_days: int,
    name: str,
    path: str | None = None,
    app_id: str = "default",
    allowed_lateness_days: int = 0,
) -> DataFrame:
    """Drain ``stream_df`` through an emit-on-close rolling fold and
    return the full per-anchor-day series (emitted rows ∪ the live
    tail) — row-equal to ``finish_fn`` over the unbounded pair set.

    ``pair_fn(batch_df) -> pairs`` builds the per-batch distinct
    (day, key) pairs (column ``day_col`` is the TIMESTAMP day);
    ``finish_fn(pairs) -> series`` computes the per-anchor-day output
    with a STRING ``day`` column (yyyy-MM-dd). Per trigger: anchor
    days at least ``1 + allowed_lateness_days`` behind the running max
    day are CLOSED — the watermark: an out-of-order event whose anchor
    is still inside the slack lands in a live (unclosed) anchor and is
    counted exactly; an event later than the slack arrives after its
    anchor's row was emitted and is DROPPED from that anchor (the same
    contract as Structured Streaming's ``withWatermark``, where the
    slack is the operator's declared lateness bound — r10 closed
    anchors at max−1 with no slack parameter, silently excluding any
    late event). Closed rows are emitted to an epoch-keyed append
    store, and every pair too old for any unemitted anchor
    (``day < close_thru+1 - (window_days-1)``) is evicted — live state
    is bounded by (window + slack + open days) × daily keys, not
    stream lifetime."""
    spark = stream_df.sparkSession
    store = path or staging_mkdtemp(f"rollup_{name}_")
    slack = int(allowed_lateness_days)

    def fold(batch_df, epoch_id, cur, txns, emitted_thru, held) -> None:
        pairs = pair_fn(batch_df)
        if cur is not None:
            prev = spark.read.parquet(os.path.join(store, cur, "pairs"))
            pairs = prev.unionByName(pairs).distinct()
        else:
            pairs = pairs.distinct()
        mx = pairs.agg(F.max(day_col).alias("m")).collect()[0]["m"]
        new_thru, series = emitted_thru, None
        if mx is not None:
            close_thru = mx - _dt.timedelta(days=1 + slack)
            close_str = close_thru.strftime("%Y-%m-%d")
            if emitted_thru is None or close_str > emitted_thru:
                series = finish_fn(pairs).filter(
                    F.col("day") <= F.lit(close_str)
                )
                if emitted_thru is not None:
                    series = series.filter(F.col("day") > F.lit(emitted_thru))
                new_thru = close_str
            # evict pairs no unemitted anchor can need: the smallest
            # unemitted anchor is close_thru+1, whose window starts at
            # close_thru+1-(window_days-1)
            keep_from = close_thru + _dt.timedelta(days=2 - window_days)
            pairs = pairs.filter(
                F.col(day_col)
                >= F.to_timestamp(F.lit(keep_from.strftime("%Y-%m-%d")))
            )
        with genstore.Generation(store, cur, _TIER, reclaim=held) as g:
            if series is not None:
                # the emitted append store is keyed by the SAME
                # store-level sequence (``gen=N`` beside ``gen-N``): raw
                # epoch ids collide when a later maintainer's checkpoint
                # restarts at 0, and emitted rows are never re-emitted
                # (the day > emitted_thru filter)
                ename = g.name.replace("-", "=", 1)
                series.write.mode("overwrite").parquet(
                    g.write_dir(os.path.join("emitted", ename))
                )
            pairs.write.mode("overwrite").parquet(os.path.join(g.dir, "pairs"))
            g.commit(
                txns, (app_id, epoch_id), {"emitted_thru": new_thru},
                keep_last=1,
            )

    cur, _t, emitted_thru = _drain(
        stream_df, store, name, app_id, "run_rolling_pairs", fold
    )
    if cur is None:
        return finish_fn(pair_fn(spark.createDataFrame([], stream_df.schema)))
    live = spark.read.parquet(os.path.join(store, cur, "pairs"))
    tail = finish_fn(live)
    if emitted_thru is not None:
        tail = tail.filter(F.col("day") > F.lit(emitted_thru))
    emitted_dir = os.path.join(store, "emitted")
    parts = _emitted_parts(emitted_dir)
    if parts:
        emitted = spark.read.parquet(*parts)
        return emitted.unionByName(tail)
    return tail


def _emitted_parts(emitted_dir: str) -> list[str]:
    """Every emitted-anchor directory, BOTH naming schemes: ``gen=N``
    (store-level sequence, current) and the legacy ``epoch=N`` (epoch-
    keyed, pre-round-11). A persisted store (explicit ``path=``) written
    by the old code and resumed by the new one must not silently lose
    its already-emitted anchor rows — those days are ≤ the pointer's
    ``emitted_thru``, so the live tail excludes them and nothing would
    ever re-emit them (ADVICE r11 #2)."""
    if not os.path.isdir(emitted_dir):
        return []
    return sorted(
        os.path.join(emitted_dir, e)
        for e in os.listdir(emitted_dir)
        if e.startswith("gen=") or e.startswith("epoch=")
    )


def live_state_size(spark, path: str) -> int:
    """Rows in the CURRENT state generation — the state-bound receipt
    the tests assert against (live-window cells, not lifetime)."""
    cur, _t, _e = _read_pointer(path)
    if cur is None:
        return 0
    gdir = os.path.join(path, cur)
    sub = os.path.join(gdir, "pairs")
    return spark.read.parquet(sub if os.path.isdir(sub) else gdir).count()
