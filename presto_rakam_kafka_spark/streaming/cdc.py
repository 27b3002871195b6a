"""Continuously-maintained snapshot: a CDC stream applied to a base
table by per-micro-batch MERGE — the streaming half of
`operators/warehouse.py:merge_upsert` (what Delta/Iceberg call a
streaming MERGE INTO target; here at the engine level with explicit
two-phase publication).

Shape per micro-batch:
1. dedupe the batch to latest-per-key (CDC batches can carry several
   changes for one key; highest (ts, tiebreak) wins — the same
   declarative ``min_by``/``max_by`` aggregate as `exact_dedup`, so
   partial merge applies and a hot key combines map-side);
2. MERGE it into the TOUCHED BUCKETS of the current snapshot only:
   generations are stored as ``_shard=K`` partitions (md5 bucket of
   the key — the `operators/datasets.py` shard discipline), the
   batch's touched-bucket set is a bounded collect (≤ num_buckets
   rows), the MERGE full-outer join reads a partition-PRUNED scan of
   just those buckets, and untouched buckets are HARD-LINKED into the
   new generation without being read or rewritten (the `purge_keys`
   untouched-segment trick). Per-batch I/O is therefore
   O(touched buckets), not O(snapshot) — the r7 form rewrote the
   entire snapshot every micro-batch, the one shape that gets worse
   as the target grows (the reason Delta/Iceberg MERGE does
   file-level pruning);
3. publish the new snapshot as the next ``gen-<n>/`` through the
   ``genstore`` commit protocol — readers always see exactly one
   complete generation, and the pointer's (app_id, epoch) txn record
   skips a replayed epoch from the SAME writer while a writer restarted
   with a fresh checkpoint (a NEW app_id) is applied, not swallowed.

100 TB: the per-batch cost is (batch shuffle on the key) + (scan +
rewrite of touched buckets) + (metadata-only linking of the rest);
size ``num_buckets`` so one bucket ≈ a comfortable task input
(thousands of buckets at 100 TB), and batch locality keeps the
touched set small. The generation-pointer publication is unchanged
by the sharding.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from presto_rakam_kafka_spark import genstore

_META = "_META.json"
_TIER = sys.modules[__name__]


def _shard_col(key_col: str, num_buckets: int) -> F.Column:
    from presto_rakam_kafka_spark.operators.datasets import shard_expr

    return F.expr(shard_expr(key_col, num_buckets))


def _read_meta(path: str) -> dict:
    mpath = os.path.join(path, _META)
    if not os.path.exists(mpath):
        return {"num_buckets": 0, "key_col": None}  # legacy unsharded store
    with open(mpath) as fh:
        return json.load(fh)


def _read_pointer(path: str) -> tuple[str | None, dict[str, int]]:
    """(current generation, {app_id: last committed epoch})."""
    return genstore.read_pointer(path)[:2]


def _fenced_flip(
    path: str, gen_read: str, gen: str, txns: dict[str, int]
) -> None:
    genstore.fenced_flip(path, gen_read, gen, txns, {}, _TIER)


def _read_manifest(path: str, gen: str) -> dict:
    """``{"buckets": {bucket: files}, "extra": files}`` — store-relative
    files, an untouched bucket's pointing into a PRIOR generation
    (carried by reference: no link, no copy, nothing a blob store can't
    do); ``extra`` is the zero-row schema file when every bucket is
    empty."""
    return genstore.read_manifest(path, gen)


def _manifest_files(path: str, man: dict) -> list[str]:
    return [os.path.join(path, r) for r in genstore.manifest_files(man)]


def read_snapshot(spark, path: str, generation: str | None = None) -> DataFrame:
    """The committed snapshot: resolve the pointer, read one generation.
    ``generation`` reads a RETAINED older generation instead (time
    travel within the `gc_snapshots` keep_last window); a retired or
    unknown name raises rather than silently reading the current one.
    The internal ``_shard`` bucket column is dropped — callers see the
    user schema regardless of the store's bucket layout."""
    meta = _read_meta(path)
    if generation is None:
        generation, _ = _read_pointer(path)
    elif not os.path.isdir(os.path.join(path, generation)):
        raise FileNotFoundError(
            f"generation {generation!r} not retained under {path} "
            "(expired by gc_snapshots or never committed)"
        )
    if meta.get("carry") == "manifest":
        files = _manifest_files(path, _read_manifest(path, generation))
        df = spark.read.parquet(*files)
    else:
        df = spark.read.parquet(os.path.join(path, generation))
    return df.drop("_shard") if "_shard" in df.columns else df


def init_snapshot(
    base: DataFrame,
    path: str,
    key_col: str | None = None,
    num_buckets: int = 16,
    carry: str = "link",
) -> None:
    """Write the base table as the store's first generation
    (``gen-0000000000``) and commit it. With ``key_col`` the store is
    BUCKET-SHARDED: every generation is partitioned by ``_shard =
    md5-bucket(key)`` so incremental merges rewrite only touched
    buckets (see module doc).
    ``key_col=None`` keeps the unsharded legacy layout (every merge
    rewrites the whole snapshot — fixture-scale only).

    ``carry`` picks how untouched buckets travel between generations:
    ``"link"`` hard-links their files (metadata-only, POSIX
    filesystems); ``"manifest"`` records them BY REFERENCE in a
    per-generation file manifest that may point into prior generations
    (the Delta/Iceberg shape — the mode for object stores, where links
    don't exist), with GC refcounting across retained manifests."""
    if carry not in ("link", "manifest"):
        raise ValueError(f"carry must be 'link' or 'manifest', got {carry!r}")
    if carry == "manifest" and key_col is None:
        raise ValueError("carry='manifest' requires a sharded store (key_col)")
    nb = num_buckets if key_col is not None else 0
    os.makedirs(path, exist_ok=True)
    genstore.write_json(
        os.path.join(path, _META),
        {"num_buckets": nb, "key_col": key_col, "carry": carry},
    )
    with genstore.Generation(path, _read_pointer(path)[0], _TIER) as g:
        man = None
        if nb:
            base = base.withColumn("_shard", _shard_col(key_col, nb))
            base.write.mode("overwrite").partitionBy("_shard").parquet(g.dir)
            man = _bucket_manifest(g, base, nb)
        else:
            base.write.mode("overwrite").parquet(g.dir)
        g.commit({}, manifest=man if carry == "manifest" else None)


def _bucket_manifest(
    g: genstore.Generation, df: DataFrame, nb: int,
    carried: dict[str, list[str]] | None = None,
) -> dict:
    """The manifest of sharded generation ``g``, whose ``_shard=``
    buckets are written (or linked): each bucket's files in ``g``, else
    its ``carried`` entry (files of a prior generation, by reference).
    A generation with no bucket file at all — a zero-row partitioned
    write (an empty base via ``limit(0)``) or every key deleted — gets
    ``df``'s zero-row schema as one unpartitioned file, so every
    generation stays readable (``_shard`` a plain column the pruning
    filter still accepts)."""
    carried = carried or {}
    buckets = {
        str(b): fs for b in range(nb)
        if (fs := g.files(f"_shard={b}") or carried.get(str(b)))
    }
    if not buckets:
        df.write.mode("overwrite").parquet(g.dir)
    return {"buckets": buckets, "extra": g.files()}


def merge_into_snapshot(
    updates: DataFrame,
    path: str,
    key_col: str,
    delete_col: str | None = None,
    txn: tuple[str, int] | None = None,
) -> tuple[str, list[int]]:
    """Public entry: the whole merge runs under the store's
    ``genstore.maintenance_lock``, so two writers QUEUE — the second's
    pointer read sees the first's commit and both land — instead of
    both basing on one generation and the later commit being fenced.
    flock doesn't span object stores; there the fence refuses the loser
    and the documented single-owning-writer contract is the guarantee.
    The queue wait is BOUNDED: a holder that neither finishes nor
    crashes raises
    :class:`~presto_rakam_kafka_spark.locks.FlockTimeoutError` naming
    the holder after ``genstore.MAINT_LOCK_TIMEOUT_S`` instead of
    blocking every later merge forever behind a wedged process."""
    with genstore.maintenance_lock(path, "merge_into_snapshot") as held:
        return _merge_into_snapshot_locked(
            updates, path, key_col, delete_col, txn, held
        )


def _merge_into_snapshot_locked(
    updates: DataFrame,
    path: str,
    key_col: str,
    delete_col: str | None = None,
    txn: tuple[str, int] | None = None,
    held: bool = True,
) -> tuple[str, list[int]]:
    """One bucket-pruned MERGE INTO the snapshot store (the batch entry;
    :func:`cdc_batch_fn` wraps it with latest-per-key + the epoch/txn
    exactly-once discipline). Updates must be unique per key.

    Steps: bucket the updates, collect the touched-bucket set (bounded
    by num_buckets), full-outer-MERGE against a partition-pruned scan
    of just those buckets, write ONLY them into the next generation,
    carry every untouched bucket across — hard links in link mode
    (metadata-only; GC of the old generation later just unlinks, the
    shared file survives), manifest references in manifest mode — then
    commit ONCE, recording ``txn`` (app_id, epoch) in the same pointer
    replace when given: generation and idempotence state can never
    diverge. Returns (generation, touched).

    On an UNSHARDED legacy store this degrades to the whole-snapshot
    merge with the same publication."""
    from presto_rakam_kafka_spark.operators.warehouse import merge_upsert

    spark = updates.sparkSession
    meta = _read_meta(path)
    nb = int(meta["num_buckets"])
    by_ref = meta.get("carry") == "manifest"
    current, txns = _read_pointer(path)
    cur_dir = os.path.join(path, current)
    with genstore.Generation(path, current, _TIER, reclaim=held) as g:
        if not nb:
            merge_upsert(
                spark.read.parquet(cur_dir), updates, key_col,
                delete_col=delete_col,
            ).write.mode("overwrite").parquet(g.dir)
            g.commit(txns, txn)
            return g.name, []

        # persist the bucketed updates: the touched-set collect and the
        # MERGE both consume them, and without the cache the upstream
        # latest-per-key aggregate would run twice (the ranks.py r7
        # fill-on-fit lesson — measured 2× on the 5M-change receipt)
        upd = updates.withColumn("_shard", _shard_col(key_col, nb)).persist()
        touched = sorted(
            int(r["_shard"])
            for r in upd.select("_shard").distinct().collect()
        )
        if by_ref:
            # object-store-safe path: the pruned target scan reads the
            # touched buckets' files straight from the CURRENT manifest
            # (which may point into older generations); every untouched
            # bucket's entry is copied verbatim into the new manifest.
            prev = _read_manifest(path, current)["buckets"]
            touched_rel = [f for b in touched for f in prev.get(str(b), [])]
            # direct-file reads lose the _shard partition column;
            # recompute it from the key (same md5 bucket by definition)
            target = (
                spark.read.parquet(
                    *[os.path.join(path, r) for r in touched_rel]
                ).withColumn("_shard", _shard_col(key_col, nb))
                if touched_rel
                else upd.limit(0)
            )
        else:
            target = spark.read.parquet(cur_dir)
            if len(touched) < nb:
                target = target.filter(F.col("_shard").isin(touched))
        merged = merge_upsert(target, upd, key_col, delete_col=delete_col)
        # repartition on the bucket first: ONE file per touched bucket per
        # generation (instead of shuffle-partitions × buckets), so the
        # hard-link inventory and the per-bucket scan stay O(buckets)
        (
            merged.repartition(max(len(touched), 1), "_shard")
            .write.mode("overwrite")
            .partitionBy("_shard")
            .parquet(g.dir)
        )
        carried = {}
        if by_ref:
            carried = {
                b: fs for b, fs in prev.items() if int(b) not in touched
            }
        else:
            for b in set(range(nb)) - set(touched):
                src = os.path.join(cur_dir, f"_shard={b}")
                if not os.path.isdir(src):
                    continue  # bucket empty in the current generation
                dst = os.path.join(g.dir, f"_shard={b}")
                os.makedirs(dst)
                for f in os.listdir(src):
                    if f.endswith(".parquet"):
                        os.link(os.path.join(src, f), os.path.join(dst, f))
        man = _bucket_manifest(g, merged, nb, carried)
        upd.unpersist()
        g.commit(txns, txn, manifest=man if by_ref else None)
    return g.name, touched


def cdc_batch_fn(
    path: str,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    delete_col: str | None = None,
    app_id: str = "default",
):
    """The exactly-once per-batch CDC apply step (factored out so tests
    can replay it with pinned ``epoch_id``s).

    Idempotence is keyed on ``(app_id, epoch)`` — Delta's foreachBatch
    txnAppId/txnVersion recipe: a replayed epoch from the same writer
    skips; a DIFFERENT writer (stream restarted with a fresh
    checkpoint, epochs back at 0) applies and starts its own epoch
    series in the pointer's txn record."""

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        epoch = int(epoch_id)
        _, txns = _read_pointer(path)
        if epoch <= txns.get(app_id, -1):
            return  # replayed batch — already folded into the snapshot
        # latest change per key wins inside the batch: max_by(struct,
        # (ts, tiebreak)) with partial aggregation (the exact_dedup r7
        # lesson: never a window here)
        cols = batch_df.columns
        latest = (
            batch_df.groupBy(key_col)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in cols]),
                    F.struct(F.col(ts_col), F.col(tiebreak_col)),
                ).alias("_s")
            )
            .select("_s.*")
        )
        merge_into_snapshot(
            latest, path, key_col, delete_col=delete_col, txn=(app_id, epoch)
        )

    return on_batch


def apply_cdc_stream(
    stream: DataFrame,
    path: str,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    delete_col: str | None = None,
    checkpoint: str | None = None,
    app_id: str = "default",
):
    """Wire the batch fn to ``foreachBatch``; callers own trigger and
    termination, and read results via :func:`read_snapshot`. Give each
    logical stream a stable ``app_id`` (tied to its checkpoint): replays
    within one checkpoint lineage dedupe on (app_id, epoch); a fresh
    checkpoint should present a fresh app_id."""
    on_batch = cdc_batch_fn(
        path, key_col, ts_col, tiebreak_col, delete_col, app_id=app_id
    )
    writer = stream.writeStream.foreachBatch(on_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def gc_snapshots(
    path: str, keep_last: int = 2, min_age_s: float | None = None
) -> list[str]:
    """Retire superseded snapshot generations, keeping the committed one
    plus ``keep_last − 1`` predecessors (time-travel window) — the
    ``genstore.gc`` retirement: never the pointed generation or anything
    NEWER (an in-flight epoch about to commit); each victim survives
    ``min_age_s`` (default ``gc_utils.GC_GRACE_S``; 0.0 forces, the Delta
    vacuum escape hatch) after a pass first observes it superseded; and
    a victim's files survive while a retained manifest references them
    (manifest mode), or as the hard links a newer generation shares
    (link mode). Returns the removed generation names."""
    return genstore.gc(path, keep_last=keep_last, grace_s=min_age_s)


def rebase_snapshot(spark, path: str) -> tuple[str, int]:
    """Re-baseline a manifest-mode store: write EVERY bucket fresh into
    a new generation whose manifest is fully self-contained (no
    references into prior generations), then flip the pointer. After
    enough incremental merges, manifest entries chain arbitrarily far
    back — harmless for reads (the manifest is flat, never recursive)
    but it pins old generation directories against GC and spreads one
    snapshot's files across many prefixes. Rebasing is the Iceberg
    `rewrite_data_files` / Delta OPTIMIZE shape: pay one full rewrite,
    then GC reclaims every prior generation. The txn record rides the
    same atomic pointer replace — rebasing never perturbs exactly-once
    bookkeeping. Returns (new_generation, buckets_rewritten).

    100 TB: schedule it like any compaction — off-peak, per-store; the
    rewrite is one shuffle-free scan+write per bucket (the read is
    already bucket-partitioned), and incremental merges continue
    against the new baseline immediately after the flip."""
    meta = _read_meta(path)
    if meta.get("carry") != "manifest":
        raise ValueError("rebase_snapshot applies to carry='manifest' stores")
    nb = int(meta["num_buckets"])
    key_col = meta["key_col"]
    with genstore.maintenance_lock(path, "rebase_snapshot") as held:
        return _rebase_locked(spark, path, nb, key_col, held)


def _rebase_locked(
    spark, path: str, nb: int, key_col: str, held: bool
) -> tuple[str, int]:
    current, txns = _read_pointer(path)
    with genstore.Generation(path, current, _TIER, reclaim=held) as g:
        snap = spark.read.parquet(
            *_manifest_files(path, _read_manifest(path, current))
        )
        if "_shard" not in snap.columns:
            snap = snap.withColumn("_shard", _shard_col(key_col, nb))
        (
            snap.repartition(max(nb, 1), "_shard")
            .write.mode("overwrite")
            .partitionBy("_shard")
            .parquet(g.dir)
        )
        man = _bucket_manifest(g, snap, nb)
        g.commit(txns, manifest=man)
    return g.name, len(man["buckets"])


def lookup_snapshot(spark, path: str, keys: list) -> DataFrame:
    """Bucket-pruned POINT READ on the snapshot store — the serving
    twin of the segment log's `lookup_latest`: route each key to its
    md5 bucket (the same `shard_expr` placement the writer used,
    computed driver-side), scan ONLY those buckets' files (partition
    dirs in link mode, manifest entries in manifest mode), and filter
    to the requested keys. Cost is O(touched buckets), never
    O(snapshot) — a 1-key read against a 4,096-bucket 100 TB store
    scans one bucket. Returns the user-schema rows for present keys
    (absent keys simply have no row — the snapshot already resolved
    deletes)."""
    import hashlib

    meta = _read_meta(path)
    nb = int(meta["num_buckets"])
    key_col = meta["key_col"]
    current, _ = _read_pointer(path)
    if key_col is None:
        # an unsharded legacy store records no key column — guessing
        # one would silently filter the wrong attribute and report
        # present keys absent (the lookup_latest num_partitions class
        # of wrong answer). Fail loudly instead.
        raise ValueError(
            "lookup_snapshot requires a store initialized with key_col "
            "(this store's _META.json records none)"
        )
    if not nb:
        df = read_snapshot(spark, path)
        return df.filter(F.col(key_col).isin(keys))

    # the Python twin of operators/datasets.shard_expr: top 4 md5 hex
    # chars of str(key), mod num_buckets
    buckets = sorted({
        int(hashlib.md5(str(k).encode()).hexdigest()[:4], 16) % nb
        for k in keys
    })
    if meta.get("carry") == "manifest":
        man = _read_manifest(path, current)
        files = [
            os.path.join(path, f)
            for b in buckets
            for f in man["buckets"].get(str(b), [])
        ]
        if not files:
            return read_snapshot(spark, path).limit(0)
        df = spark.read.parquet(*files)
    else:
        dirs = [
            os.path.join(path, current, f"_shard={b}")
            for b in buckets
            if os.path.isdir(os.path.join(path, current, f"_shard={b}"))
        ]
        if not dirs:
            return read_snapshot(spark, path).limit(0)
        df = spark.read.parquet(*dirs)
    if "_shard" in df.columns:
        df = df.drop("_shard")
    return df.filter(F.col(key_col).isin(keys))
