"""Streaming ANN index maintenance: each micro-batch of new vectors is
coded against the frozen IVF-PQ geometry and upserted into the
persisted incremental index — the continuous-ingestion counterpart of
`operators/similarity.py`'s `upsert_ivfpq_index` (VERDICT r5 next-6).

Shape: ``foreachBatch`` → one coded projection + one list-partitioned
delta generation + one ``genstore`` commit per micro-batch. Probes
running concurrently read one committed manifest, so they see a
consistent delta set. Exactly-once: each batch commits with the txn
``(app_id, epoch_id)``, recorded in the same pointer replace as its
delta — a crash before the flip leaves only a write dir no reader
resolves, and the restarted batch commits once; a replay AFTER the
flip finds its epoch already recorded and does nothing. Either way the
same vectors are never indexed twice (the txnAppId discipline of
`streaming/cdc.py` and `operators/datasets.py`).

State: NONE in the streaming engine — the index itself is the state,
on disk, shared with batch readers. At 100 TB each micro-batch's cost
is proportional to the batch (code + write), never to the index; delta
count grows with trigger count, so production folds deltas periodically
with `compact_ivfpq_index`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from presto_rakam_kafka_spark.operators.similarity import (
    NUM_CENTROIDS,
    PQ_KSUB,
    PQ_M,
    upsert_ivfpq_index,
)


def index_stream(
    stream: DataFrame,
    path: str,
    vec_col: str,
    id_col: str,
    dim: int,
    num_centroids: int = NUM_CENTROIDS,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    checkpoint: str | None = None,
    app_id: str = "default",
):
    """Start a query that upserts every micro-batch into the
    incremental IVF-PQ index at ``path`` (which must already be
    initialized via ``init_ivfpq_index``). Returns the streaming query;
    callers own trigger/termination. Give each checkpoint lineage its
    own ``app_id``: the txn record is per app, so a stream restarted
    with a fresh checkpoint (epochs back at 0) indexes its batches
    instead of having them swallowed as replays of the previous run's
    epochs."""

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_ivfpq_index(
            batch_df.sparkSession,
            batch_df,
            path,
            vec_col,
            id_col,
            dim,
            num_centroids=num_centroids,
            m=m,
            ksub=ksub,
            txn=(app_id, int(epoch_id)),
        )

    writer = stream.writeStream.foreachBatch(on_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
