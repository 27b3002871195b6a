"""EventCatalog: (project, collection) → DataFrame with hidden system columns.

Reference parity (``/root/reference/src/main/java/com/facebook/presto/kafka/``):

* Table name ↔ Kafka topic: ``schemaName + "_" + tableName``
  (``KafkaSplitManager.java:107``); the reverse split-on-first-``_`` at
  ``KafkaConnectorPageSource.java:88-89,136-138``.
* Every table carries three hidden system columns prepended to the user
  schema — ``_offset BIGINT``, ``project VARCHAR``, ``collection VARCHAR``
  (``KafkaMetadata.java:165-167``); ``project``/``collection`` are flagged
  partition keys, ``_offset`` is the pruning column.
* Hidden means "not in ``SELECT *``" — Presto's hidden-column flag.  Spark
  has no native hidden flag, so the catalog keeps the user-schema /
  full-schema distinction itself: :meth:`EventCatalog.table` returns user
  columns, ``include_hidden=True`` adds the system columns (SURVEY §1.4).
* Missing table ⇒ :class:`TableNotFoundError`
  (``KafkaMetadata.java:159-161``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

from presto_rakam_kafka_spark.metastore import (
    CachingMetastore,
    CollectionNotFoundError,
    Metastore,
    SchemaField,
    fields_to_struct,
)
from presto_rakam_kafka_spark.plans.offset_pushdown import OffsetRange

#: Hidden system columns, in reference order (KafkaMetadata.java:165-167).
HIDDEN_COLUMNS: tuple[str, ...] = ("_offset", "project", "collection")


class TableNotFoundError(Exception):
    """Spark-side analog of Presto's ``TableNotFoundException``."""


def topic_name(project: str, collection: str) -> str:
    """``project_collection`` (KafkaSplitManager.java:107)."""
    return f"{project}_{collection}"


def parse_topic_name(topic: str) -> tuple[str, str]:
    """Split on the *first* underscore, like
    ``KafkaConnectorPageSource.java:88-89``."""
    project, _, collection = topic.partition("_")
    return project, collection


class EventSource(Protocol):
    """A physical backing for one (project, collection) table.

    Implementations return a DataFrame that already carries the three
    hidden columns; ``offset_ranges`` (if given) must be applied as close
    to the scan as the backing allows (Kafka: starting/endingOffsets;
    parquet: a pushed-down filter on the offset column).
    """

    def scan(
        self,
        spark: SparkSession,
        project: str,
        collection: str,
        fields: list[SchemaField],
        offset_ranges: list[OffsetRange] | None = None,
    ) -> DataFrame: ...


@dataclass
class EventCatalog:
    """Resolves event tables against a metastore + registered sources.

    The reference's division of labor (SURVEY §3): the engine asks the
    connector for metadata and a scan; everything relational happens in
    the host engine.  Here, :meth:`table` is the "connector" half and the
    returned DataFrame plugs straight into Catalyst.
    """

    spark: SparkSession
    metastore: Metastore

    def __post_init__(self) -> None:
        # Driver-side TTL schema cache (SURVEY §4 O11 improvement).
        if not isinstance(self.metastore, CachingMetastore):
            self.metastore = CachingMetastore(self.metastore)
        self._sources: dict[tuple[str, str], EventSource] = {}

    # -- registration -------------------------------------------------

    def register_source(self, project: str, collection: str, source: EventSource) -> None:
        self._sources[(project.lower(), collection.lower())] = source

    def register_parquet(
        self,
        project: str,
        collection: str,
        path: str,
        offset_column: str | None = None,
        nanos_ts_columns: tuple[str, ...] = (),
    ) -> None:
        """Register a parquet-backed event table.

        The fixture tables have no Kafka offsets; ``offset_column`` names
        an existing monotone column to expose as ``_offset`` (e.g.
        ``event_id`` for the events table, per FIXTURES.md §2).
        """
        from presto_rakam_kafka_spark.sources.parquet import ParquetEventSource

        self.register_source(
            project,
            collection,
            ParquetEventSource(
                path, offset_column=offset_column, nanos_ts_columns=nanos_ts_columns
            ),
        )

    def register_kafka_segments(
        self,
        project: str,
        collection: str,
        path: str,
        value_format: str = "json",
        avro_writer_schema: str | None = None,
        expose_key: bool = False,
        wire_format: str = "raw",
        schema_registry: dict | str | None = None,
    ) -> None:
        """Register a table backed by a ``kafka_segments`` log
        (:class:`~presto_rakam_kafka_spark.sources.kafka_datasource.KafkaSegmentsEventSource`):
        ``table(..., offset_ranges=...)`` plans the surviving segments
        on the driver and Spark's parquet reader scans them.
        ``avro_writer_schema`` (with ``value_format="avro"``) names the
        OLD writer schema for payloads that predate the metastore's
        current fields — schema evolution resolves in the decode
        (``KafkaConnectorPageSource.java:82-123`` +
        ``PageDatumReader.java:68-93`` in one scan). ``expose_key``
        adds a fourth hidden column ``_key`` (the raw Kafka key —
        compacted-topic tables) and scans through the ``kafka_segments``
        DataSource, so ``WHERE _key IN (…)`` on the decoded table
        pushes through to bloom-index segment pruning (the reference's
        hidden columns stay the canonical three,
        KafkaMetadata.java:165-167 — `_key` is opt-in per table)."""
        from presto_rakam_kafka_spark.sources.kafka_datasource import (
            KafkaSegmentsEventSource,
        )

        self.register_source(
            project,
            collection,
            KafkaSegmentsEventSource(
                path,
                value_format=value_format,
                avro_writer_schema=avro_writer_schema,
                expose_key=expose_key,
                wire_format=wire_format,
                schema_registry=schema_registry,
            ),
        )

    # -- metadata surface (KafkaMetadata analogs) ----------------------

    def user_fields(self, project: str, collection: str) -> list[SchemaField]:
        """``metastore.getCollection`` analog (KafkaMetadata.java:155-161)."""
        try:
            return self.metastore.get_collection(project, collection)
        except CollectionNotFoundError as e:
            raise TableNotFoundError(f"{project}.{collection}") from e

    def user_schema(self, project: str, collection: str):
        return fields_to_struct(self.user_fields(project, collection))

    def full_schema(self, project: str, collection: str):
        """User schema with hidden columns prepended (KafkaMetadata.java:165-167)."""
        from pyspark.sql import types as T

        hidden = [
            T.StructField("_offset", T.LongType(), False),
            T.StructField("project", T.StringType(), False),
            T.StructField("collection", T.StringType(), False),
        ]
        return T.StructType(hidden + list(self.user_schema(project, collection).fields))

    def list_projects(self) -> list[str]:
        return self.metastore.list_projects()

    def list_collections(self, project: str) -> list[str]:
        return self.metastore.list_collections(project)

    # -- scan surface ---------------------------------------------------

    def table(
        self,
        project: str,
        collection: str,
        include_hidden: bool = False,
        offset_ranges: list[OffsetRange] | None = None,
    ) -> DataFrame:
        """Resolve a table to a DataFrame.

        ``include_hidden=False`` reproduces Presto's ``SELECT *`` over
        hidden columns: only user columns appear.  ``offset_ranges``
        applies the reference's ``_offset`` pushdown (SURVEY §4 O1) at
        the source.

        Snapshot contract for segment-log tables (other than
        ``expose_key`` ones): the frame's file list is fixed by this
        call, as Spark's own file index fixes it. A batch appended
        afterwards is not in the frame; a fresh ``table()`` sees it.
        After a ``compact_segments`` the frame still reads its
        superseded generation, with the same rows, while the
        generation's retire grace lasts; on a loose-file layout (no
        generation yet), whose files compaction deletes at once, the
        frame's actions raise — it never returns fewer rows.
        """
        fields = self.user_fields(project, collection)
        key = (project.lower(), collection.lower())
        source = self._sources.get(key)
        if source is None:
            raise TableNotFoundError(
                f"{project}.{collection} has a schema but no registered source"
            )
        df = source.scan(self.spark, project, collection, fields, offset_ranges)
        if include_hidden:
            # the reference's three system columns, plus the opt-in
            # `_key` when the source exposes it (compacted-topic tables)
            hidden = list(HIDDEN_COLUMNS)
            if "_key" in df.columns:
                hidden.append("_key")
            ordered = hidden + [f.name.lower() for f in fields]
            return df.select(*ordered)
        return df.select(*[f.name.lower() for f in fields])

    def stream(
        self,
        project: str,
        collection: str,
        include_hidden: bool = False,
        **stream_options,
    ) -> DataFrame:
        """Resolve a table to a STREAMING DataFrame (readStream), for
        sources that support it (``KafkaEventSource.stream``,
        ``KafkaSegmentsEventSource.stream``). Same hidden-column
        contract as :meth:`table`; ``stream_options`` pass through to
        the source (e.g. ``starting_offsets``, ``max_rows_per_batch``).
        """
        fields = self.user_fields(project, collection)
        key = (project.lower(), collection.lower())
        source = self._sources.get(key)
        if source is None:
            raise TableNotFoundError(
                f"{project}.{collection} has a schema but no registered source"
            )
        stream_fn = getattr(source, "stream", None)
        if stream_fn is None:
            raise TableNotFoundError(
                f"{project}.{collection} source {type(source).__name__} "
                "does not support streaming"
            )
        df = stream_fn(self.spark, project, collection, fields, **stream_options)
        if include_hidden:
            ordered = list(HIDDEN_COLUMNS) + [f.name.lower() for f in fields]
            return df.select(*ordered)
        return df.select(*[f.name.lower() for f in fields])

    def sql_view(self, project: str, collection: str, view_name: str | None = None) -> str:
        """Register the table (with hidden columns) as a temp view for
        ``spark.sql`` access; returns the view name."""
        name = view_name or topic_name(project, collection)
        self.table(project, collection, include_hidden=True).createOrReplaceTempView(name)
        return name
