"""Dataset materialization: the EXPORT step of a training-data
pipeline — write a curated corpus as N deterministic, size-balanced
shards plus a manifest, so a training job can address "dataset vX,
shard k of N" and an auditor can verify integrity without rereading
the data.

Beyond-reference extension (the reference connector is scan-only);
the shape mirrors how production pipelines ship datasets (WebDataset /
Megatron-style shard lists): deterministic shard assignment (md5 of
the id — stable across reruns, engines, and cluster sizes, unlike
``spark.write.repartition(N)`` round-robin which depends on task
scheduling), one partitioned write, and a driver-side manifest built
from a shard-level aggregate (N rows — bounded, not corpus-sized).

Scale: assignment is a pure projection; the write shuffles once on
the shard id (uniform by construction — md5 bits); the stats pass is
one partial-agg'd groupBy with N output rows. Every piece is the
same at 100 TB with N in the thousands.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from presto_rakam_kafka_spark import genstore

_MANIFEST = "_MANIFEST.json"


def shard_expr(id_col: str, num_shards: int) -> str:
    """Deterministic engine-portable shard id: top 4 md5 hex chars of
    the id, mod N. Uniform (md5 bits), stable across engines — DuckDB
    replays it exactly (`shard_expr_duckdb`)."""
    return (
        f"cast(conv(substr(md5(cast({id_col} as string)), 1, 4), 16, 10)"
        f" as int) % {num_shards}"
    )


def shard_expr_duckdb(id_col: str, num_shards: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 4))::BIGINT"
        f" % {num_shards} AS INTEGER)"
    )


def shard_stats(
    df: DataFrame, text_col: str, id_col: str, num_shards: int = 8
) -> DataFrame:
    """Per-shard manifest row: doc count, token count, and an
    order-insensitive content checksum (sum of each doc's 32-bit
    md5-prefix — commutative, so shard parallelism and row order
    never change it; both engines compute the identical BIGINT).

    The prefix is 8 hex chars (≤2^32) on purpose: a BIGINT sum of
    32-bit values stays exact to ~2^31 docs PER SHARD (billions), so
    Spark's non-ANSI long sum and DuckDB's HUGEINT-then-cast agree at
    any realistic corpus size. The earlier 48-bit prefix overflowed a
    signed BIGINT at ~65k docs/shard — Spark wrapped silently while
    DuckDB raised on the cast, so the engines diverged exactly when
    the dataset got big enough to matter."""
    chk = (
        f"cast(conv(substr(md5({text_col}), 1, 8), 16, 10) as bigint)"
    )
    return (
        df.select(
            F.expr(shard_expr(id_col, num_shards)).alias("shard"),
            F.expr(f"size(split({text_col}, ' '))").alias("_tok"),
            F.expr(chk).alias("_chk"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").cast("long").alias("n_tokens"),
            F.sum("_chk").cast("long").alias("checksum"),
        )
    )


def shard_stats_oracle(
    table: str, text_col: str, id_col: str, num_shards: int = 8
) -> str:
    sh = shard_expr_duckdb(id_col, num_shards)
    chk = f"('0x' || substr(md5({text_col}), 1, 8))::BIGINT"
    return f"""
    SELECT {sh} AS shard,
           count(*) AS n_docs,
           CAST(sum(len(string_split({text_col}, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum({chk}) AS BIGINT) AS checksum
    FROM {table}
    GROUP BY 1
    """


def export_dataset(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    num_shards: int = 8,
    version: str = "v1",
) -> dict:
    """Write the corpus as ``shard=K`` parquet partitions plus a
    ``_MANIFEST.json`` recording version, shard count, and the
    per-shard (n_docs, n_tokens, checksum) rows from
    :func:`shard_stats`. Returns the manifest dict.

    The manifest is written LAST, after the data files are synced — a
    reader that requires the manifest therefore never sees a
    half-written export, even after a power loss (the same
    publish-ordering discipline as the ``genstore`` commits)."""
    out = df.withColumn("shard", F.expr(shard_expr(id_col, num_shards)))
    out.write.mode("overwrite").partitionBy("shard").parquet(path)
    stats = {
        int(r["shard"]): {
            "n_docs": int(r["n_docs"]),
            "n_tokens": int(r["n_tokens"]),
            "checksum": int(r["checksum"]),
        }
        for r in shard_stats(df, text_col, id_col, num_shards).collect()
    }
    manifest = {
        "version": version,
        "num_shards": num_shards,
        "shards": stats,
        "total_docs": sum(s["n_docs"] for s in stats.values()),
        "total_tokens": sum(s["n_tokens"] for s in stats.values()),
    }
    genstore.fsync_tree(path)
    genstore.write_json(os.path.join(path, _MANIFEST), manifest)
    return manifest


def verify_export(spark, path: str, text_col: str, id_col: str) -> bool:
    """Integrity check a reader runs before training: recompute the
    per-shard stats from the exported files and compare to the
    manifest. True iff every shard matches (count, tokens, checksum)."""
    with open(os.path.join(path, _MANIFEST)) as f:
        manifest = json.load(f)
    df = spark.read.parquet(path)
    got = {
        int(r["shard"]): (int(r["n_docs"]), int(r["n_tokens"]), int(r["checksum"]))
        for r in shard_stats(df, text_col, id_col, manifest["num_shards"]).collect()
    }
    want = {
        int(k): (v["n_docs"], v["n_tokens"], v["checksum"])
        for k, v in manifest["shards"].items()
    }
    return got == want


def _read_export_manifest(mpath: str, version: str, num_shards: int) -> dict:
    """The streaming export's manifest, or an empty one. A manifest from
    the pre-(app_id, epoch) exporter (the r7 shape recorded an
    ``epochs`` list) is migrated in memory: the default app's
    high-water mark is seeded from it, so a post-upgrade replay of an
    already-committed epoch is still skipped instead of re-folding its
    stats (ADVICE r8); the next commit persists the migrated shape."""
    try:
        with open(mpath) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        return {
            "version": version,
            "num_shards": num_shards,
            "shards": {},
            "txns": {},
        }
    if "txns" not in manifest:
        legacy = manifest.pop("epochs", [])
        manifest["txns"] = (
            {"default": max(int(e) for e in legacy)} if legacy else {}
        )
    return manifest


def export_batch_fn(
    path: str,
    text_col: str,
    id_col: str,
    num_shards: int = 8,
    version: str = "v1",
    app_id: str = "default",
):
    """The exactly-once per-micro-batch export step (factored out of
    :func:`export_stream` so tests can replay it with a pinned
    ``epoch_id``).

    Idempotence comes from the epoch-keyed two-phase commit — the same
    discipline as `streaming/sinks.py` and the ``genstore`` stores:

    1. the batch's rows are written under ``epoch=<id>/shard=<k>/`` with
       ``mode("overwrite")`` on the epoch directory, then fsynced, and
    2. under the export's ``genstore.maintenance_lock`` the manifest is
       re-read, and one ``genstore.write_json`` replace both accumulates
       the batch's per-shard stats AND records
       ``manifest["txns"][app_id] = epoch``; a batch at or below its
       app's committed epoch is skipped entirely.

    The txn key is ``(app_id, epoch)`` — Delta's foreachBatch
    txnAppId/txnVersion recipe — NOT the epoch alone: a stream
    restarted with a fresh checkpoint restarts epochs at 0, and an
    epoch-only key (the r7 form) would silently swallow every batch of
    the new run as a "replay" — unbounded data loss with no error.
    Give each checkpoint lineage its own ``app_id``; epoch ids within
    one lineage are monotonic, so "≤ committed" identifies replays
    exactly. Epoch directories of different apps are disambiguated as
    ``epoch=<app>-<id>`` when ``app_id`` is not the default (two apps'
    epoch 0 must not collide on disk).

    Replay analysis: a retry after a crash BEFORE the flip overwrites
    the (possibly partial) epoch directory and then commits once; a
    retry AFTER the flip sees its epoch in the manifest and does
    nothing — rows are never double-appended and stats never
    double-counted, so ``verify_export`` passes at every batch boundary
    even across foreachBatch replays. (The r6 form appended with no
    epoch key: a replay double-appended the rows while the manifest
    accumulated once — detected by verify_export, but the export then
    needed a manual rebuild.)"""

    mpath = os.path.join(path, _MANIFEST)

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        committed = _read_export_manifest(mpath, version, num_shards)["txns"]
        if int(epoch_id) <= committed.get(app_id, -1):
            return  # already committed by THIS app — replay, exactly-once skip
        out = batch_df.withColumn(
            "shard", F.expr(shard_expr(id_col, num_shards))
        )
        tag = int(epoch_id) if app_id == "default" else f"{app_id}-{int(epoch_id)}"
        epoch_dir = os.path.join(path, f"epoch={tag}")
        out.write.mode("overwrite").partitionBy("shard").parquet(epoch_dir)
        batch_stats = {
            int(r["shard"]): (
                int(r["n_docs"]),
                int(r["n_tokens"]),
                int(r["checksum"]),
            )
            for r in shard_stats(
                batch_df, text_col, id_col, num_shards
            ).collect()
        }
        genstore.fsync_tree(epoch_dir)
        # merge the stats under the export's maintenance lock, RE-READING
        # the manifest inside it (round 12): the manifest supports
        # multiple concurrent appending apps (per-app txns), and an
        # unguarded read-merge-replace lost whichever app's stats
        # committed first — counts silently wrong, verify_export red.
        with genstore.maintenance_lock(path, "export_batch"):
            manifest = _read_export_manifest(mpath, version, num_shards)
            if int(epoch_id) <= manifest["txns"].get(app_id, -1):
                return  # committed while we built the epoch dir: replay
            shards = {int(k): v for k, v in manifest["shards"].items()}
            for k, (d, t, c) in batch_stats.items():
                prev = shards.get(
                    k, {"n_docs": 0, "n_tokens": 0, "checksum": 0}
                )
                shards[k] = {
                    "n_docs": prev["n_docs"] + d,
                    "n_tokens": prev["n_tokens"] + t,
                    "checksum": prev["checksum"] + c,
                }
            manifest["shards"] = shards
            manifest["txns"][app_id] = int(epoch_id)
            manifest["total_docs"] = sum(
                s["n_docs"] for s in shards.values()
            )
            manifest["total_tokens"] = sum(
                s["n_tokens"] for s in shards.values()
            )
            genstore.write_json(mpath, manifest)

    return on_batch


def export_stream(
    stream: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    num_shards: int = 8,
    version: str = "v1",
    checkpoint: str | None = None,
    app_id: str = "default",
):
    """Continuous dataset materialization, exactly-once: every
    micro-batch's rows land under an epoch-keyed directory
    (``epoch=<id>/shard=<k>/`` — readers of ``path`` see both as
    partition columns) and the manifest atomically accumulates the
    per-shard stats (counts/tokens/checksums are all sums, so
    per-batch stats fold exactly — the same fold-then-finish argument
    as the streaming retention/stickiness rollups) together with the
    committed (app_id, epoch) transaction record. Replayed batches are
    skipped per app, so a foreachBatch retry can neither double-append
    rows nor double-count stats, while a restart under a NEW app_id
    (fresh checkpoint) keeps appending — see :func:`export_batch_fn`
    for the replay analysis. A reader that loads the manifest always
    sees stats ≤ the data on disk, and `verify_export` passes at every
    batch boundary. Returns the writer; callers own
    trigger/termination."""
    on_batch = export_batch_fn(
        path, text_col, id_col, num_shards, version, app_id=app_id
    )
    writer = stream.writeStream.foreachBatch(on_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


# ---------------------------------------------------------------------
# Table profiling (per-column data-quality summary)
# ---------------------------------------------------------------------


def profile_table(
    df: DataFrame,
    columns: list[str],
    approx: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """One-pass per-column profile — the "describe my table" primitive
    every analytics engine ships (and a curation pipeline's first look
    at a new source): per column, row count, null count, distinct
    count, and min/max rendered as strings.

    Shape: at most two aggregations over the corpus computing every
    column's stats side by side, then a ``stack`` unpivot of the single
    result row into N output rows — never one job per column (N scans)
    and never a corpus-sized unpivot-THEN-aggregate (which would
    explode the input N×). Exact mode runs the distinct counts and the
    min/max/null stats as SEPARATE passes so the Expand branch keeps
    fixed-width (hash-aggregable) buffers — see the inline comment.

    ``approx``: the multi-column exact COUNT(DISTINCT) is the expensive
    part — Catalyst plans it as an Expand (one replica of each row per
    distinct aggregate, an N×-the-input shuffle), the honest cost of
    exactness. ``approx=True`` swaps every distinct for
    ``approx_count_distinct`` (HyperLogLog++, relative error ``rsd``):
    the Expand disappears, the whole profile is one partial-agg pass
    with constant-size sketch state per column — the 100 TB default
    (round 8, VERDICT next-4: a flag, not an edit). Counts, nulls, and
    min/max are exact in both modes.

    min/max are cast to string AFTER aggregating (numeric order, then
    render). Doubles render differently across engines (Spark's Java
    ``Double.toString`` vs DuckDB's shortest-roundtrip) — profile
    integer/string/date columns for engine-portable output, or round
    first; the gate row sticks to portable types.
    """
    def nd(c):
        if approx:
            return F.approx_count_distinct(F.col(c), rsd)
        return F.count_distinct(F.col(c))

    if approx:
        # sketch buffers are fixed-size; one pass plans hash-side fine
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in columns:
            aggs += [
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                nd(c).alias(f"{c}__nd"),
                F.min(F.col(c)).cast("string").alias(f"{c}__min"),
                F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            ]
        one = df.agg(*aggs)
    else:
        # Exact mode: the multi-distinct rewrite Expands the corpus
        # N+1× and groups by (gid, value). With min/max(string) in the
        # SAME aggregate, the var-width string buffers disqualify
        # HashAggregate and the whole Expanded corpus pays a full SORT
        # (SortAggregate) — measured as the dominant cost of this
        # operator. Split the profile into (a) the distinct counts —
        # long-only buffers, so the Expand branch stays a HashAggregate
        # — and (b) one slim pass for count/nulls/min/max, then glue
        # the two single-row results. Two hash passes beat one sorted
        # Expand pass at every scale; values are identical.
        base_aggs = [F.count(F.lit(1)).alias("__n")]
        nd_aggs = []
        for c in columns:
            base_aggs += [
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                F.min(F.col(c)).cast("string").alias(f"{c}__min"),
                F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            ]
            nd_aggs.append(nd(c).alias(f"{c}__nd"))
        one = df.agg(*base_aggs).crossJoin(df.agg(*nd_aggs))
    parts = ", ".join(
        f"'{c}', __n, `{c}__nulls`, `{c}__nd`, `{c}__min`, `{c}__max`"
        for c in columns
    )
    return one.selectExpr(
        f"stack({len(columns)}, {parts}) AS "
        "(column, n_rows, n_nulls, n_distinct, min_str, max_str)"
    )


def profile_table_oracle(
    table: str, columns: list[str], include_distinct: bool = True
) -> str:
    """DuckDB twin: one aggregate row per column via UNION ALL (DuckDB
    fuses the scans; the contract here is values, not the plan).
    ``include_distinct=False`` omits the distinct column — the twin for
    ``profile_table(approx=True)``, whose HLL++ estimate no other
    engine replays bit-for-bit (the estimate is asserted within its rsd
    in unit tests instead)."""
    selects = [
        f"""
        SELECT '{c}' AS column, count(*) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_nulls,
               {f'count(DISTINCT {c}) AS n_distinct,' if include_distinct else ''}
               CAST(min({c}) AS VARCHAR) AS min_str,
               CAST(max({c}) AS VARCHAR) AS max_str
        FROM {table}"""
        for c in columns
    ]
    return " UNION ALL ".join(selects)


# ---------------------------------------------------------------------
# Dataset version diff
# ---------------------------------------------------------------------


def diff_datasets(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Row-level diff between two corpus snapshots — the audit step
    between dataset versions ("what changed between v1 and v2 that
    moved my eval?"): per doc id, status ∈ added / removed / changed /
    unchanged, decided by content digest.

    Shape: each side reduces to (id, md5) — a projection, no text
    shuffle beyond the hash — then ONE full-outer sort-merge join on
    the id. At 100 TB both sides shuffle once on the id; with both
    exports bucketed by the same id (layout.stage_bucketed) even that
    exchange disappears. Digest comparison, not text comparison, so
    the join rows are ~48 bytes regardless of document size."""
    o = old.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("_h_old")
    )
    n = new.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("_h_new")
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") == F.col("_h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def diff_datasets_oracle(
    old_sql: str, new_sql: str, id_col: str, text_col: str
) -> str:
    """DuckDB twin over two snapshot subqueries (same digest compare)."""
    return f"""
    WITH o AS (SELECT {id_col} AS doc_id, md5({text_col}) AS h_old
               FROM ({old_sql})),
         n AS (SELECT {id_col} AS doc_id, md5({text_col}) AS h_new
               FROM ({new_sql}))
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN h_old = h_new THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """
