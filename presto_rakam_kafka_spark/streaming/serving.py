"""Materialized rollup + live-tail serving (the continuous-query shape).

The reference serves EVERY query by rescanning the log from the pushed
offset bound (``KafkaRecordSet.java:79-138`` — there is no state between
queries); Rakam's product on top of it materializes "continuous queries"
so dashboards don't pay a full scan per refresh. This module is that
serving shape, Spark-first:

* a **serving store** holds mergeable PARTIAL aggregate cells
  (count/sum/min/max) keyed by ``(day, group keys)``, plus the
  per-partition log offsets the cells already cover (the HWM) — all
  committed together in one atomic pointer flip, so cells and coverage
  can never disagree;
* **maintenance** (:func:`maintain_rollup` batch, or
  :func:`run_rollup_maintenance` as a streaming foreachBatch fold)
  folds ONLY the log tail beyond the stored HWM into the store.
  Per-trigger I/O is ∝ new segments (the tail scan's driver-side
  planner, ``kafka_datasource.plan_segments``, drops every segment
  wholly below its partition's HWM before any read) + touched days:
  each
  generation rewrites only the day buckets the tail touched and
  carries every other day's files BY REFERENCE in a per-generation
  ``_MANIFEST.json`` (the object-store-safe Delta/Iceberg carry,
  same discipline as ``streaming/cdc.py`` carry="manifest");
* **serving** (:func:`serve_rollup_tail`) answers with
  ``finish(merge(stored cells ∪ cells(uncovered tail)))`` — exact over
  the full log at the cost of (cells + tail segments), never a full
  rescan. A fresh store degrades to exactly the reference's behavior
  (whole-log scan); a fully-maintained store reads zero log segments
  past the HWM (the tail is an empty local frame).

Aggregates must be split into algebraic partials: the per-batch
``cell_fn`` computes them (count, raw sums, min/max), ``merge_exprs``
re-aggregate cells across triggers, and the serve-time ``finish_fn``
derives the presentation values (avg = sum/n, rounding) — finishing
early would double-round and double-count, the classic partial-agg
mistake.

At 100 TB: the store is (days × group keys) cells — dashboard-sized,
orders of magnitude below the log; maintenance cost per trigger is
bounded by trigger data; serve cost is bounded by cells + data landed
since the last maintenance tick. Offsets here are the log's global
fixture offsets, but coverage is tracked PER PARTITION (Kafka's actual
offset model), so nothing assumes global monotonicity across
partitions; the per-partition residual filters switch from literal
boolean chains to broadcast-joined bounds maps past the codegen cutoff
(``_BOUNDS_EXPR_MAX_PARTITIONS``).

Concurrency model: serves are lock-free and SNAPSHOT-CONSISTENT — one
pointer read per serve, cells resolved from that snapshot's generation,
GC grace keeping superseded generations alive. Each maintenance op
holds the store's ``genstore.maintenance_lock`` (a kernel flock) for its
whole read-fold-commit, so a second maintainer queues and then folds
only what is left; every commit — fold, rebuild, repair — goes through
:func:`_commit_days`, i.e. the ``genstore`` protocol (unique write dir,
fenced flip of (cells, HWM, txn), graced GC), whose fence refuses a
stale commit from a maintainer the flock does not reach. Streaming
maintenance is idempotent by OFFSET (each batch filtered to ≥ the stored
HWM), never by epoch alignment.
:func:`repair_rollup_days` is the GDPR path: re-fold only the purged
keys' day buckets from the purged log, HWM unchanged.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_rakam_kafka_spark import genstore
from presto_rakam_kafka_spark.fixtures import staging_mkdtemp
from presto_rakam_kafka_spark.gc_utils import (  # noqa: F401 — tier surface
    RETIRED_MARKER as _RETIRED_MARKER,
)
from presto_rakam_kafka_spark.genstore import (  # noqa: F401 — re-exported
    FencedMaintenanceError,
)
from presto_rakam_kafka_spark.sources.parquet import read_parquet_files

_TIER = sys.modules[__name__]


# ---------------------------------------------------------------------
# Store layout over genstore: pointer payload = HWM, manifest = day files
# ---------------------------------------------------------------------


def _read_pointer(store: str) -> tuple[str | None, dict, dict]:
    """(current_gen, txns, hwm) — (None, {}, {}) on a fresh store.
    ``hwm[partition] = first offset NOT yet folded into the cells``."""
    gen, txns, payload = genstore.read_pointer(store)
    hwm = payload.get("hwm", {})
    return gen, txns, {int(k): int(v) for k, v in hwm.items()}


def _hwm_payload(hwm: dict) -> dict:
    return {"hwm": {str(k): int(v) for k, v in hwm.items()}}


def _flip_pointer(store: str, gen: str, txns: dict, hwm: dict) -> None:
    genstore.write_pointer(store, gen, txns, _hwm_payload(hwm))


def _read_manifest(store: str, gen: str) -> dict[str, list[str]]:
    """day → store-relative data files (possibly in older generations)."""
    return genstore.read_manifest(store, gen)["days"]


def _cell_files(
    store: str, gen: str | None, first: str | None = None,
    last: str | None = None,
) -> list[str]:
    """Cell files of generation ``gen`` for the days in [first, last]
    (unbounded where None)."""
    if gen is None:
        return []
    return [
        os.path.join(store, f)
        for d, fs in _read_manifest(store, gen).items()
        if (first is None or d >= first) and (last is None or d <= last)
        for f in fs
    ]


def read_store_cells_at(
    spark: SparkSession, store: str, gen: str | None
) -> DataFrame | None:
    """The partial-aggregate cells of ONE specific generation — no
    pointer read. A serve that already holds a ``(gen, hwm)`` pointer
    snapshot MUST resolve cell files from that same ``gen``: re-reading
    the pointer here would let a maintenance flip land between the two
    reads and hand the serve NEW cells against an OLD hwm (double
    counting the freshly-covered offsets). GC grace keeps the snapshot
    generation's files alive for one superseded tick, so a serve racing
    a commit still finds its files. The ``_day`` bucket dir is a layout
    detail — the day lives in the data as a regular column, so reading
    by explicit file list (the manifest may point across generations)
    loses nothing."""
    files = _cell_files(store, gen)
    return _read_cell_files(spark, files) if files else None


def _read_cell_files(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read stored cell files under the union of their footer schemas.

    Schema-migration tolerance: generations written before a cell-
    schema migration lack the new measure columns. mergeSchema=true
    gave that, but it launches a footer-reading SPARK JOB on every
    serve build (measured ~1.4 s of the serve's driver latency at
    sf0.1). A manifest's file list is bounded, so the footers merge
    DRIVER-side with pyarrow (µs per file) and Spark gets the final
    schema — missing columns read as nulls exactly as mergeSchema
    produced. Any surprise (type conflict, exotic type) falls back to
    the mergeSchema job: slower, never wrong (round-13 optimization).
    Scope note (ADVICE r13 #3): the fallback covers DRIVER-side schema
    construction only — the returned read is lazy, so a pyarrow→Spark
    type mapping that Spark's own parquet reader disagrees with
    (foreign-writer timestamp units, unsigned ints) would surface at
    action time, outside the fallback. Safe for cells this repo's
    Spark wrote (the only writer of a store); stores ingested from
    foreign writers should read via the mergeSchema path."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        merged: dict[str, object] = {}
        order: list[str] = []
        for p in files:
            for f in pq.read_schema(p):
                prev = merged.get(f.name)
                if prev is None:
                    merged[f.name] = f.with_nullable(True)
                    order.append(f.name)
                elif not prev.type.equals(f.type):
                    raise ValueError(
                        f"cell schema conflict on {f.name!r}: "
                        f"{prev.type} vs {f.type}"
                    )
        schema = from_arrow_schema(pa.schema([merged[n] for n in order]))
        return read_parquet_files(spark, files, schema)
    except Exception as exc:  # noqa: BLE001 — any surprise → slow correct path
        import logging

        logging.getLogger(__name__).warning(
            "driver-side cell-schema merge failed (%s: %s); falling back "
            "to the mergeSchema read", type(exc).__name__, exc,
        )
        return read_parquet_files(spark, files, mergeSchema="true")


def stored_cell_count(store: str) -> int | None:
    """EXACT row count of the committed cells, from parquet footers —
    a driver-side metadata read (one ``pq.read_metadata`` per manifest
    file, no Spark job), None on a fresh store. The adaptive input for
    `grouped_topn`'s prune gate (VERDICT r12 #3): the stored side
    dominates a serve's rank input (the tail adds one uncovered log
    suffix), so footer counts are the cheap honest estimate. A count
    under-stated by the tail only keeps the prune OFF — the window
    stays exact."""
    import pyarrow.parquet as pq

    gen, _txns, _hwm = _read_pointer(store)
    if gen is None:
        return None
    total = 0
    for path in _cell_files(store, gen):
        try:
            total += pq.read_metadata(path).num_rows
        except OSError:
            return None  # racing a GC: estimate unavailable, not wrong
    return total


def read_store_cells(spark: SparkSession, store: str) -> DataFrame | None:
    """The CURRENT committed cells (None on a fresh store) — a
    standalone read that resolves the pointer itself. Serves that also
    need the HWM must NOT use this; they take one pointer snapshot and
    call :func:`read_store_cells_at` (see the torn-view note there)."""
    gen, _txns, _hwm = _read_pointer(store)
    return read_store_cells_at(spark, store, gen)


# ---------------------------------------------------------------------
# Tail scan: the uncovered log suffix, pruned at plan time
# ---------------------------------------------------------------------


#: per-partition residual strategy cutoff: at or below this many
#: partitions the residual is a literal boolean chain (no extra plan
#: stage, fully codegen'd); above it, a broadcast-joined bounds table —
#: a 10⁴-partition Kafka topic would otherwise put a 10⁴-term boolean
#: expression into codegen (method-size blowup → interpreted fallback).
_BOUNDS_EXPR_MAX_PARTITIONS = 64


def _per_partition_offset_filter(
    df: DataFrame, bounds: dict, lower: bool
) -> DataFrame:
    """Apply the EXACT per-partition offset residual
    (``offset >= bounds[partition]`` when ``lower`` else ``<``).
    Partitions absent from ``bounds`` pass when ``lower`` (unknown at
    snapshot time → uncovered, scan them) and are EXCLUDED when not
    (no committed coverage target → fold next tick). Two physical
    strategies, same semantics: a literal predicate for dashboard-scale
    partition counts, a broadcast hash join against the bounds map
    (partitions × 16 bytes — always broadcastable) beyond the codegen
    cutoff."""
    if not bounds:
        return df
    if len(bounds) <= _BOUNDS_EXPR_MAX_PARTITIONS:
        # one SQL predicate over integers, not a Column tree: every
        # Column operator is a py4j round trip on the serve's build path
        op = ">=" if lower else "<"
        cond = " OR ".join(
            f"(`partition` = {int(p)} AND `offset` {op} {int(h)})"
            for p, h in bounds.items()
        )
        known = "`partition` IN ({})".format(
            ", ".join(str(int(p)) for p in bounds)
        )
        pred = f"NOT {known} OR {cond}" if lower else f"{known} AND ({cond})"
        return df.filter(F.expr(pred))
    spark = df.sparkSession
    bdf = spark.createDataFrame(
        [(int(p), int(h)) for p, h in bounds.items()],
        "partition INT, _bound LONG",
    )
    j = df.join(F.broadcast(bdf), "partition", "left")
    if lower:
        j = j.filter(
            F.col("_bound").isNull() | (F.col("offset") >= F.col("_bound"))
        )
    else:
        j = j.filter(
            F.col("_bound").isNotNull() & (F.col("offset") < F.col("_bound"))
        )
    return j.drop("_bound")


def _tail_scan(
    spark: SparkSession,
    log_dir: str,
    hwm: dict,
    up_to: int | None = None,
    ts_lo=None,
    ts_hi=None,
    keys=None,
) -> DataFrame:
    """Raw frames not yet covered by the store, read natively.

    Pruning happens driver-side, in the log's one planner behind
    :func:`~presto_rakam_kafka_spark.sources.kafka_datasource.scan_segments`:
    segments wholly below their partition's HWM (or at/after
    ``up_to``), outside the closed event-time interval
    ``[ts_lo, ts_hi]`` (naive UTC datetimes, pruned by footer ts
    stats) or bloom-negative for ``keys`` are never read. The
    surviving files go straight to Spark's parquet scan — no Python
    DataSource planning round trips, no Python-worker read — and the
    EXACT per-partition offset residual (coverage is per partition) is
    :func:`_per_partition_offset_filter`, applied to the partitions
    whose segments the bounds cut through: a literal predicate at
    dashboard-scale partition counts, a broadcast-joined bounds map
    beyond the codegen cutoff. Timestamp and key predicates stay the
    caller's to apply; pruning is segment-granular.

    The file list is fixed when the frame is built, the same moment a
    serve takes its pointer snapshot; a tail with no surviving segment
    is a zero-row frame."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import scan_segments

    plan, df = scan_segments(
        spark, log_dir, end=up_to, lower=hwm, ts_lo=ts_lo, ts_hi=ts_hi,
        keys=keys,
    )
    # Only a segment the bounds cut through holds rows outside them; a
    # tail of whole segments (every serve right after a tick) needs no
    # row filter at all.
    floors = {p: h for p, h in hwm.items() if p in plan.cut}
    if floors:
        df = _per_partition_offset_filter(df, floors, lower=True)
    if up_to is not None and plan.cut:
        df = df.filter(F.col("offset") < int(up_to))
    return df


def _day_span_utc(spark: SparkSession, first_day: str, last_day: str):
    """``(ts_lo, ts_hi)`` for :func:`_tail_scan`: the closed interval
    from midnight starting ``first_day`` to midnight ending
    ``last_day`` in the session time zone, as the naive UTC datetimes
    the segment footers' ts stats hold. A zone id ``zoneinfo`` cannot
    parse (``+08:00``) widens both ends by a day instead — no zone is
    a day away from UTC, so pruning stays conservative."""
    import datetime as _dt
    from zoneinfo import ZoneInfo

    one = _dt.timedelta(days=1)
    lo = _dt.datetime.fromisoformat(first_day)
    hi = _dt.datetime.fromisoformat(last_day) + one
    try:
        tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    except (KeyError, ValueError):  # offsets, unknown or malformed ids
        return lo - one, hi + one

    def utc(t):
        return t.replace(tzinfo=tz).astimezone(_dt.timezone.utc).replace(
            tzinfo=None
        )

    return utc(lo), utc(hi)


def _log_end_offsets(log_dir: str) -> dict[int, int]:
    """{partition: next offset after the last segment} — driver-side
    footer metadata only (the consumer-position read). A log dir the
    producer has not created/laid out yet reads as ``{}`` — a
    maintenance cron tick firing before first produce must be a no-op,
    not a crash (ADVICE r10 #3); the SCAN path keeps its A3 strictness
    (refusing a layout-less dir), this position read is the one place
    "not born yet" is a legitimate state."""
    import re as _re

    from presto_rakam_kafka_spark.sources.kafka_datasource import (
        _enumerate_segments,
    )

    if not os.path.isdir(log_dir) or not any(
        _re.match(r"^partition=\d+$", e) for e in os.listdir(log_dir)
    ):
        return {}
    ends: dict[int, int] = {}
    for pid, segs in _enumerate_segments(log_dir).items():
        hi = 0
        for _f, _lo, seg_hi, _n in segs:
            if seg_hi is not None:
                hi = max(hi, int(seg_hi))
        ends[pid] = hi
    return ends


# ---------------------------------------------------------------------
# Maintenance: fold the tail into the store
# ---------------------------------------------------------------------


def _fold_cells(
    spark: SparkSession,
    store: str,
    new_cells: DataFrame,
    new_hwm: dict,
    epoch: int,
    app_id: str,
    group_cols: list[str],
    merge_exprs: list,
    day_col: str,
    gen_read: str | None,
    txns_read: dict,
    held: bool,
) -> None:
    """Merge ``new_cells`` into the store and commit (cells, HWM, txn)
    in one pointer flip. Only day buckets present in ``new_cells`` are
    rewritten; every other day carries by manifest reference.

    ``gen_read``/``txns_read`` are the pointer state from the SAME read
    that produced the caller's HWM (and hence ``new_cells``'s offset
    filter) — the fence must compare against THAT read, not a fresh one
    taken here: a thief committing between the caller's read and this
    fold would otherwise become the base generation, pass the fence,
    and have the overlap double-counted (round-11 review finding #1).
    ``held``: the caller holds the store's maintenance lock."""
    touched = [
        r[day_col]
        for r in new_cells.select(day_col).distinct().collect()
        if r[day_col] is not None
    ]
    prev_days: dict[str, list[str]] = (
        _read_manifest(store, gen_read) if gen_read is not None else {}
    )
    merged = new_cells
    carry_files = [
        os.path.join(store, f) for d in touched for f in prev_days.get(d, [])
    ]
    if carry_files:
        prev_touched = _read_cell_files(spark, carry_files).filter(
            F.col(day_col).isin(touched)
        )
        # allowMissingColumns: a NEW measure added to cell_fn must not
        # strand the store — old cells read the column as NULL (sum-merge
        # treats null as absent; the finish decides how pre-migration
        # days present)
        merged = merged.unionByName(prev_touched, allowMissingColumns=True)
    _commit_days(
        store, gen_read, txns_read, (app_id, epoch), new_hwm,
        merged.groupBy(*group_cols).agg(*merge_exprs), touched,
        {d: fs for d, fs in prev_days.items() if d not in touched},
        day_col, held,
    )


def _commit_days(
    store: str,
    gen_read: str | None,
    txns: dict,
    txn: tuple[str, int],
    hwm: dict,
    cells: DataFrame,
    days: list[str],
    kept: dict[str, list[str]],
    day_col: str,
    held: bool,
) -> list[str]:
    """The one serving commit (fold, rebuild and repair): write
    ``cells`` — rows of ``days`` only — as ``_day=`` buckets of the next
    generation, carry every day of ``kept`` (day → store-relative files)
    by manifest reference, and commit (cells, ``hwm``, ``txn``) through
    the ``genstore`` protocol, fenced against ``gen_read``. A day of
    ``days`` without cells drops out of the manifest. Only a caller
    that ``held`` the maintenance lock reclaims leaked write dirs.
    Returns the days written."""
    with genstore.Generation(store, gen_read, _TIER, reclaim=held) as g:
        if days:
            (
                cells.withColumn("_day", F.col(day_col))
                .repartition(max(1, len(days)), "_day")
                .write.mode("overwrite")
                .partitionBy("_day")
                .parquet(g.dir)
            )
        written = {d: fs for d in days if (fs := g.files(f"_day={d}"))}
        g.commit(
            txns, txn, _hwm_payload(hwm),
            manifest={"days": {**kept, **written}}, keep_last=2,
        )
    return sorted(written)


#: test-injection point: called right before a commit's fence check —
#: a fencing test uses it to simulate a second maintainer (one the
#: maintenance lock does not reach) committing first.
_before_flip_hook = None

#: test-injection point: called right after a flipper ACQUIRES the flip
#: lock, before its fence check — a two-flipper race test barriers
#: around the lock to prove mutual exclusion of the fence+flip section.
_after_flip_lock_hook = None


def _fenced_flip(
    store: str, gen_read: str | None, gen: str, txns: dict, hwm: dict
) -> None:
    genstore.fenced_flip(store, gen_read, gen, txns, _hwm_payload(hwm), _TIER)


def maintain_rollup(
    spark: SparkSession,
    log_dir: str,
    store: str,
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    day_col: str = "day",
    up_to: int | None = None,
    app_id: str = "maintain",
) -> dict:
    """One batch maintenance tick: fold the log tail beyond the stored
    HWM (optionally clamped to ``offset < up_to`` — the fixture's way
    of leaving a live tail) into the cell store. Returns the committed
    HWM map. Re-running with nothing new is a metadata no-op (the tail
    scan plans a single empty split; no generation is written)."""
    os.makedirs(store, exist_ok=True)
    with genstore.maintenance_lock(store, "maintain_rollup") as held:
        return _maintain_locked(
            spark, log_dir, store, cell_fn, group_cols, merge_exprs,
            day_col, up_to, app_id, held,
        )


def _maintain_locked(
    spark, log_dir, store, cell_fn, group_cols, merge_exprs,
    day_col, up_to, app_id, held,
) -> dict:
    _gen, txns, hwm = _read_pointer(store)
    ends = _log_end_offsets(log_dir)
    new_hwm = dict(hwm)
    for p, end in ends.items():
        target = end if up_to is None else min(int(up_to), end)
        new_hwm[p] = max(hwm.get(p, 0), target)
    if not new_hwm:
        return hwm  # empty / not-yet-written log: a no-op, not an error
    if new_hwm == hwm and _gen is not None:
        return hwm
    # The scan is ALWAYS bounded above by the coverage about to be
    # committed — never open-ended: a producer appending between the
    # driver's segment listing and the executor scan would otherwise
    # have its rows folded NOW but not covered by new_hwm, and the next
    # tick would fold them again (double count). Global cap for the
    # pushdown, exact per-partition residual (partitions cover to
    # different offsets).
    tail = _tail_scan(
        spark, log_dir, hwm, up_to=max(new_hwm.values())
    )
    # upper residual also EXCLUDES partitions unseen at listing time
    # (no committed coverage target) — their rows fold next tick
    tail = _per_partition_offset_filter(tail, new_hwm, lower=False)
    epoch = txns.get(app_id, -1) + 1
    _fold_cells(
        spark, store, cell_fn(tail), new_hwm, epoch, app_id,
        group_cols, merge_exprs, day_col, _gen, txns, held,
    )
    return new_hwm


def run_rollup_maintenance(
    stream_raw: DataFrame,
    store: str,
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    day_col: str = "day",
    name: str = "rollup_maintenance",
    app_id: str = "stream",
    max_triggers: int = 200,
) -> None:
    """Continuous maintenance: drain a raw-frame STREAM (the
    ``kafka_segments`` streaming reader) through a foreachBatch fold of
    the same store. Coverage advances from the batch's own offsets
    (max+1 per partition observed — a partitions-sized driver scalar),
    and each batch is first filtered to offsets >= the STORED HWM, so
    the fold is idempotent against ANY replay — same-checkpoint epoch
    replays and later maintainers with fresh checkpoints whose batch
    boundaries no longer align (the r10 epoch-guard hole) alike — and
    the store is exactly-once under restart.

    Python stream sources fall back to single-batch execution under
    ``Trigger.AvailableNow`` (each trigger takes ONE rate-limited
    batch), so the drain restarts the query against a shared
    checkpoint until the source stops advancing — each restart is one
    bounded maintenance epoch, the production cadence in miniature."""
    spark = stream_raw.sparkSession
    os.makedirs(store, exist_ok=True)

    progressed = False

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal progressed
        if batch_df.isEmpty():
            return  # trailing no-data trigger: no coverage to commit
        progressed = True
        with genstore.maintenance_lock(
            store, "run_rollup_maintenance"
        ) as held:
            _gen, txns, hwm = _read_pointer(store)
            # Idempotency is OFFSET-based, not epoch-based (ADVICE
            # r10): a later maintainer resuming a persisted store from
            # a FRESH checkpoint restarts epoch_id at 0 with batch
            # boundaries that no longer match the original run (after
            # compaction or a changed maxRowsPerBatch) — an epoch-id
            # replay guard would then skip genuinely-new batches or
            # double-fold misaligned ones. Filtering the batch to
            # offsets >= the STORED per-partition HWM makes the fold
            # exact regardless of alignment: covered rows drop,
            # uncovered rows fold, a true replay becomes an empty
            # batch and commits nothing.
            batch_df = _per_partition_offset_filter(
                batch_df, hwm, lower=True
            )
            seen = batch_df.groupBy("partition").agg(
                F.max("offset").alias("mx")
            ).collect()
            new_hwm = dict(hwm)
            for r in seen:
                new_hwm[int(r["partition"])] = max(
                    new_hwm.get(int(r["partition"]), 0), int(r["mx"]) + 1
                )
            if new_hwm == hwm and _gen is not None:
                return  # batch fully covered (replay): metadata no-op
            # the txn record stays monotone per app for observability;
            # it is no longer the correctness guard
            epoch = max(txns.get(app_id, -1) + 1, int(epoch_id))
            _fold_cells(
                spark, store, cell_fn(batch_df), new_hwm, epoch,
                app_id, group_cols, merge_exprs, day_col, _gen, txns, held,
            )

    ckpt = staging_mkdtemp(f"ckpt_{name}_")
    for _ in range(max_triggers):
        progressed = False
        q = (
            stream_raw.writeStream.foreachBatch(on_batch)
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Drain until the SOURCE stops yielding rows — not until the
        # store HWM stalls: a maintainer resuming a persisted store
        # from a fresh checkpoint replays covered offsets first, and
        # those batches deliberately commit nothing (offset-filtered),
        # so an HWM-stall condition would quit before reaching the
        # genuinely-new tail.
        if not progressed:
            break


# ---------------------------------------------------------------------
# Serving: stored cells ∪ uncovered tail, finished at read time
# ---------------------------------------------------------------------


#: test-injection point: called right after a serve captures its
#: pointer snapshot, BEFORE it resolves cell files — a concurrency test
#: monkeypatches this to run a maintenance commit in the window and
#: assert the serve still equals the full-scan oracle.
_after_pointer_snapshot_hook = None


def serve_rollup_tail(
    spark: SparkSession,
    log_dir: str,
    store: str,
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    finish_fn=None,
    cell_filter=None,
) -> DataFrame:
    """Answer the rollup EXACTLY over the full log without a full scan:
    committed cells ∪ cells(tail beyond the committed HWM), merged and
    finished. The pointer is read ONCE — cells are resolved from that
    snapshot's generation (:func:`read_store_cells_at`) and the tail's
    offset bound from the same snapshot's HWM, so cells and coverage
    always agree even when a maintenance commit flips the pointer
    mid-serve (the r10 torn-pointer race: resolving cells through a
    second pointer read merged NEW cells with a tail scanned from the
    OLD hwm, double-counting everything the commit had just covered).

    ``cell_filter`` is a key predicate over CELL columns (the dashboard
    ``WHERE event_type = 'click'`` filter of a pull query): on the
    stored side it is applied directly to the parquet read, so Catalyst
    pushes it into the scan (``PushedFilters``) and parquet row-group
    statistics skip non-matching groups without decoding them
    (plan-asserted in tests); on the tail side it filters the
    freshly-built cells before the merge. Exactness is unchanged —
    cells are keyed by the group columns, so filtering cells by a group
    predicate commutes with the merge.

    The tail side is pruned driver-side by ``plan_segments`` (segments
    wholly below their partition's HWM are never read) when the serve
    is BUILT, and the surviving files are read by Spark's native
    parquet scan; the frame's file list is thus fixed with its pointer
    snapshot."""
    gen, _txns, hwm = _read_pointer(store)
    if _after_pointer_snapshot_hook is not None:
        _after_pointer_snapshot_hook()
    cells = read_store_cells_at(spark, store, gen)
    tail_cells = cell_fn(_tail_scan(spark, log_dir, hwm))
    if cell_filter is not None:
        tail_cells = tail_cells.filter(cell_filter)
        if cells is not None:
            cells = cells.filter(cell_filter)
    merged = (
        tail_cells
        if cells is None
        else cells.unionByName(tail_cells, allowMissingColumns=True)
    ).groupBy(*group_cols).agg(*merge_exprs)
    return finish_fn(merged) if finish_fn is not None else merged


def rebuild_rollup(
    spark: SparkSession,
    log_dir: str,
    store: str,
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    day_col: str = "day",
    app_id: str = "rebuild",
) -> dict:
    """Backfill: re-fold the ENTIRE log into one fresh generation and
    atomically swap it in — the recovery path when the cell logic
    changed (new measure, bug fix) or the store is suspect. Ignores
    existing cells entirely; readers see the old generation until the
    single pointer flip, then the rebuilt one (no torn view, same
    guarantee as incremental maintenance). Cost is one full log fold —
    the same price the reference pays for EVERY query."""
    os.makedirs(store, exist_ok=True)
    with genstore.maintenance_lock(store, "rebuild_rollup") as held:
        return _rebuild_locked(
            spark, log_dir, store, cell_fn, group_cols, merge_exprs,
            day_col, app_id, held,
        )


def _rebuild_locked(
    spark, log_dir, store, cell_fn, group_cols, merge_exprs, day_col,
    app_id, held,
) -> dict:
    gen_prev, txns, hwm_prev = _read_pointer(store)
    new_hwm = _log_end_offsets(log_dir)
    if not new_hwm:
        return hwm_prev  # empty / not-yet-written log: nothing to fold
    # bound the scan by the coverage being committed (same
    # append-during-tick discipline as maintain_rollup)
    scan = _tail_scan(spark, log_dir, {}, up_to=max(new_hwm.values()))
    scan = _per_partition_offset_filter(scan, new_hwm, lower=False)
    merged = cell_fn(scan).groupBy(*group_cols).agg(*merge_exprs)
    touched = [
        r[day_col]
        for r in merged.select(day_col).distinct().collect()
        if r[day_col] is not None
    ]
    _commit_days(
        store, gen_prev, txns, (app_id, txns.get(app_id, -1) + 1), new_hwm,
        merged, touched, {}, day_col, held,
    )
    return new_hwm


def repair_rollup_days(
    spark: SparkSession,
    log_dir: str,
    store: str,
    days: list[str],
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    day_col: str = "day",
    app_id: str = "repair",
) -> list[str]:
    """Re-fold ONLY the named day buckets from the log — the GDPR-repair
    path for materialized aggregates (round 11).

    ``purge_keys`` rewrites the LOG, but covered cells still embed the
    purged keys' contributions, and aggregates can't subtract — the
    affected days must be re-derived from the now-purged log. A full
    :func:`rebuild_rollup` pays a whole-log fold; this repair costs
    (segments overlapping ``days``) + (rewritten day buckets): the scan
    combines the store's committed per-partition upper bound (the
    repaired cells must cover EXACTLY what the old cells covered, so
    serves stay exact against the live tail) with the repaired days'
    event-time span, which prunes segments at planning (footer ts
    stats — the same two-axis prune as :func:`serve_rollup_day`).
    Every other day carries by manifest reference; a repaired day
    whose rows were all purged disappears from the manifest. HWM is
    UNCHANGED (repair rewrites history, it does not advance coverage).
    Returns the list of day buckets actually rewritten.

    ``days`` is the caller's responsibility and must be computed
    BEFORE purging the log (e.g. the victims' distinct event days from
    the source table): the purged log no longer knows where the
    victims' rows were, and an incomplete list leaves stale cells —
    when in doubt, :func:`rebuild_rollup` is the whole-log fallback.
    Repair takes the store's maintenance lock, so it queues behind a
    running maintenance tick and the next tick queues behind it."""
    os.makedirs(store, exist_ok=True)
    with genstore.maintenance_lock(store, "repair_rollup_days") as held:
        return _repair_days_locked(
            spark, log_dir, store, days, cell_fn, group_cols,
            merge_exprs, day_col, app_id, held,
        )


def _repair_days_locked(
    spark, log_dir, store, days, cell_fn, group_cols, merge_exprs,
    day_col, app_id, held,
) -> list[str]:
    import datetime as _dt

    gen_prev, txns, hwm = _read_pointer(store)
    if gen_prev is None or not days:
        return []  # nothing materialized / nothing asked: no-op
    days = sorted(set(days))
    ts_lo, ts_hi = _day_span_utc(spark, days[0], days[-1])
    scan = _tail_scan(
        spark, log_dir, {}, up_to=max(hwm.values()), ts_lo=ts_lo, ts_hi=ts_hi
    )
    scan = _per_partition_offset_filter(scan, hwm, lower=False)
    day_pred = None
    for d in days:
        nxt = (
            _dt.date.fromisoformat(d) + _dt.timedelta(days=1)
        ).isoformat()
        leg = (F.col("timestamp") >= F.to_timestamp(F.lit(d))) & (
            F.col("timestamp") < F.to_timestamp(F.lit(nxt))
        )
        day_pred = leg if day_pred is None else (day_pred | leg)
    if day_pred is not None:
        scan = scan.filter(day_pred)
    cells = cell_fn(scan).filter(F.col(day_col).isin(days))
    merged = cells.groupBy(*group_cols).agg(*merge_exprs)
    # a day whose rows were all purged drops out of the manifest
    rewritten = _commit_days(
        store, gen_prev, txns, (app_id, txns.get(app_id, -1) + 1), hwm,
        merged, days,
        {d: fs for d, fs in _read_manifest(store, gen_prev).items()
         if d not in days},
        day_col, held,
    )
    _clear_repair_intent(store, days)
    return rewritten


def _clear_repair_intent(store: str, repaired_days: list[str]) -> None:
    """Subtract just-repaired days from the ``.REPAIR_INTENT`` journal
    (VERDICT r12 #7): an operator who repairs BY HAND after an
    interrupted purge+repair would otherwise leave the intent pending
    forever, and the next one-call invocation would re-repair days
    already covered. Days the hand repair did NOT cover stay journaled
    — the leak protection is exactly as strong as before. Runs after
    the repair's commit, under the caller's maintenance lock."""
    intent_path = os.path.join(store, ".REPAIR_INTENT")
    try:
        with open(intent_path) as fh:
            pending = list(json.load(fh).get("days", []))
    except FileNotFoundError:
        return
    except (OSError, ValueError, AttributeError):
        return  # garbled journal: leave it for purge_and_repair to refuse
    remaining = sorted(set(pending) - set(repaired_days))
    if remaining == sorted(set(pending)):
        return
    if not remaining:
        try:
            os.remove(intent_path)
        except OSError:
            pass
        return
    genstore.write_json(intent_path, {"days": remaining})


def serve_rollup_day(
    spark: SparkSession,
    log_dir: str,
    store: str,
    day: str,
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    finish_fn=None,
    day_col: str = "day",
    cell_filter=None,
) -> DataFrame:
    """Single-tile refresh: the rollup for ONE day at the cost of one
    manifest day bucket + a doubly-pruned tail. The stored side reads
    only ``day``'s files (manifest lookup — no scan of other days,
    footer schemas merged driver-side); the tail side combines BOTH
    prune axes, driver-side in ``plan_segments`` when the serve is
    built: ``offset >= hwm`` per partition (covered segments out) AND
    the day's event-time span (segments whose footer ts stats miss the
    day out — the offsetsForTimes analog). Day cells are closed by
    event time, so the residual day filter after the segment prune is
    exact. ``cell_filter`` adds the key-predicate prune of
    :func:`serve_rollup_tail` as a THIRD axis (day bucket × row
    groups × key)."""
    gen, _txns, hwm = _read_pointer(store)
    stored = None
    files = _cell_files(store, gen, day, day)
    if files:
        # a day bucket holds exactly one day, but stay exact if a caller
        # hand-built a store with coarser buckets
        stored = _read_cell_files(spark, files).filter(F.col(day_col) == day)
    import datetime as _dt

    nxt = (
        _dt.date.fromisoformat(day) + _dt.timedelta(days=1)
    ).isoformat()
    ts_lo, ts_hi = _day_span_utc(spark, day, day)
    tail = (
        _tail_scan(spark, log_dir, hwm, ts_lo=ts_lo, ts_hi=ts_hi)
        .filter(F.col("timestamp") >= F.to_timestamp(F.lit(day)))
        .filter(F.col("timestamp") < F.to_timestamp(F.lit(nxt)))
    )
    tail_cells = cell_fn(tail).filter(F.col(day_col) == day)
    if cell_filter is not None:
        tail_cells = tail_cells.filter(cell_filter)
        if stored is not None:
            stored = stored.filter(cell_filter)
    merged = (
        tail_cells if stored is None
        else stored.unionByName(tail_cells, allowMissingColumns=True)
    ).groupBy(*group_cols).agg(*merge_exprs)
    return finish_fn(merged) if finish_fn is not None else merged


def serve_rollup_range(
    spark: SparkSession,
    log_dir: str,
    store: str,
    start_day: str,
    end_day: str,
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    finish_fn=None,
    day_col: str = "day",
    cell_filter=None,
) -> DataFrame:
    """Date-range serve (the dashboard date picker): manifest lookup
    of exactly the days in ``[start_day, end_day]`` on the stored side,
    the same driver-side two-axis prune (offset ≥ HWM + the range's
    event-time span) on the tail side. Cost ∝ (days in range) + (tail
    segments overlapping the range), independent of the days outside
    it. ``cell_filter`` composes the key-predicate prune on top (see
    :func:`serve_rollup_tail`)."""
    import datetime as _dtmod

    gen, _txns, hwm = _read_pointer(store)
    stored = None
    files = _cell_files(store, gen, start_day, end_day)
    if files:
        stored = _read_cell_files(spark, files).filter(
            F.col(day_col).between(start_day, end_day)
        )
    nxt = (
        _dtmod.date.fromisoformat(end_day) + _dtmod.timedelta(days=1)
    ).isoformat()
    ts_lo, ts_hi = _day_span_utc(spark, start_day, end_day)
    tail = (
        _tail_scan(spark, log_dir, hwm, ts_lo=ts_lo, ts_hi=ts_hi)
        .filter(F.col("timestamp") >= F.to_timestamp(F.lit(start_day)))
        .filter(F.col("timestamp") < F.to_timestamp(F.lit(nxt)))
    )
    tail_cells = cell_fn(tail).filter(
        F.col(day_col).between(start_day, end_day)
    )
    if cell_filter is not None:
        tail_cells = tail_cells.filter(cell_filter)
        if stored is not None:
            stored = stored.filter(cell_filter)
    merged = (
        tail_cells
        if stored is None
        else stored.unionByName(tail_cells, allowMissingColumns=True)
    ).groupBy(*group_cols).agg(*merge_exprs)
    return finish_fn(merged) if finish_fn is not None else merged


#: victim-key strategy cutoff: at or below this many keys the filter is
#: an ``isin`` literal (no extra plan stage); above it, a broadcast
#: semi-join against a keys table (thousands of GDPR subjects would
#: otherwise put a thousands-term IN list into codegen).
_VICTIM_ISIN_MAX = 200


def victim_rollup_days(
    spark: SparkSession,
    log_dir: str,
    store: str,
    keys: list[bytes],
) -> list[str]:
    """The day buckets a :func:`repair_rollup_days` after
    ``purge_keys(log_dir, keys)`` must re-fold — derived from the log
    BEFORE the purge (VERDICT r11 #7: ``repair_rollup_days`` trusts the
    caller's day list, and a list computed any other way risks leaving
    stale cells — the purged log no longer knows where the victims'
    rows were).

    One pruned scan: bounded above by the store's committed coverage
    (rows beyond the HWM were never folded into cells, so their days
    need no repair — the purge removes them from the LOG and the next
    maintenance tick simply never sees them), filtered to the victims'
    keys (an ``isin`` literal for request-sized lists, a broadcast
    semi-join beyond that — GDPR batches can be thousands of subjects),
    reduced to distinct event days. Returns [] for an unmaintained
    store (nothing materialized → nothing to repair)."""
    gen, _txns, hwm = _read_pointer(store)
    if gen is None or not hwm or not keys:
        return []
    small = len(keys) <= _VICTIM_ISIN_MAX
    scan = _tail_scan(
        spark, log_dir, {}, up_to=max(hwm.values()),
        keys={bytes(k) for k in keys} if small else None,
    )
    scan = _per_partition_offset_filter(scan, hwm, lower=False)
    if small:
        scan = scan.filter(F.col("key").isin([bytes(k) for k in keys]))
    else:
        kdf = spark.createDataFrame(
            [(bytes(k),) for k in keys], "key BINARY"
        ).distinct()
        scan = scan.join(F.broadcast(kdf), "key", "left_semi")
    return sorted(
        r["day"]
        for r in scan.select(
            F.date_format("timestamp", "yyyy-MM-dd").alias("day")
        )
        .distinct()
        .collect()
        if r["day"] is not None
    )


def purge_and_repair_rollup(
    spark: SparkSession,
    log_dir: str,
    store: str,
    keys: list[bytes],
    cell_fn,
    group_cols: list[str],
    merge_exprs: list,
    day_col: str = "day",
    app_id: str = "repair",
) -> list[str]:
    """The one-call GDPR path for a log + its materialized rollup:
    derive the victims' covered day buckets (:func:`victim_rollup_days`
    — MUST run before the purge), physically erase the keys from the
    log (``purge_keys``), then re-fold exactly those day buckets from
    the purged log. Closes the stale-cell footgun of calling the three
    steps by hand in the wrong order. Returns the day buckets
    rewritten.

    The store's maintenance lock is held across the WHOLE sequence
    (round-12 review finding #1): with derive and purge outside it, a
    concurrent maintenance tick landing between them could fold victim
    rows beyond the derive-time HWM into the cells — those days would
    miss the repair list, and after the purge the log can no longer say
    they needed repair: a permanent GDPR leak in the materialized tier.
    A maintenance tick started meanwhile therefore queues until the
    repair has committed, then folds the purged log.

    CRASH-SAFE between purge and repair: the derived day list is
    journaled to ``.REPAIR_INTENT`` (atomic publish) BEFORE the purge
    and removed only after the repair's commit. Without the journal, a
    crash after ``purge_keys`` is unrecoverable — re-running derives
    days from the now-purged log, finds none, and the stale cells leak
    forever (the only exit being a whole-log rebuild). With it, any
    later invocation (same or different keys) first merges the pending
    intent's days into its repair set, so recovery is simply calling
    this function again."""
    from presto_rakam_kafka_spark.sources.kafka_datasource import purge_keys

    os.makedirs(store, exist_ok=True)
    intent_path = os.path.join(store, ".REPAIR_INTENT")
    with genstore.maintenance_lock(store, "purge_and_repair_rollup") as held:
        pending: list[str] = []
        try:
            with open(intent_path) as fh:
                pending = list(json.load(fh).get("days", []))
        except FileNotFoundError:
            pass  # no intent: nothing pending
        except (OSError, ValueError, AttributeError) as exc:
            # an UNREADABLE or GARBLED journal must abort, not read as
            # empty: this run would overwrite it without the pending
            # days and remove it after repairing only its own — the
            # permanent leak the journal exists to prevent (round-12
            # second review #3)
            raise RuntimeError(
                f"repair-intent journal {intent_path} unreadable ({exc}); "
                f"fix or inspect it before purging — its days are the "
                f"only record of an interrupted purge's pending repairs "
                f"(rebuild_rollup is the whole-log fallback)"
            ) from exc
        days = sorted(
            set(victim_rollup_days(spark, log_dir, store, keys)) | set(pending)
        )
        if days:  # durable before the purge: the only record of owed days
            genstore.write_json(intent_path, {"days": days})
        purge_keys(log_dir, [bytes(k) for k in keys])
        if not days:
            return []
        rewritten = _repair_days_locked(
            spark, log_dir, store, days, cell_fn, group_cols,
            merge_exprs, day_col, app_id, held,
        )
        try:
            os.remove(intent_path)  # repair committed: intent fulfilled
        except OSError:
            pass
        return rewritten
