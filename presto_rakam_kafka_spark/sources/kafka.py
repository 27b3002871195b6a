"""Kafka-backed event source — the engine's rebuild of the reference's
core (SURVEY §2.A A1–A8).

Reference → Spark mapping:

* **Scan** (A1): ``spark.read.format("kafka")`` for batch over a frozen
  offset range (the reference's model — latest offsets discovered at
  plan time, ``KafkaSplitManager.java:194-216``);
  ``spark.readStream.format("kafka")`` for the streaming surface the
  reference lacks.
* **Split generation** (A2): the reference makes one split per log
  segment so "a topic can be processed by more workers than partitions"
  (``KafkaSplit.java:28-34``); Spark's Kafka source exposes the same
  knob as ``minPartitions``, which divides partition offset ranges into
  sub-range tasks.
* **Offset pushdown** (A4/O1): ``_offset`` conjuncts become per-partition
  ``startingOffsets``/``endingOffsets`` JSON
  (:func:`offsets_json`), mirroring
  ``KafkaSplitManager.java:93-106,153-178`` incl. bound openness.
* **Decode + projection** (A5/A6): ``from_avro`` with a projection-pruned
  reader schema when the spark-avro package is on the classpath; JSON
  via ``from_json`` otherwise (the reference's own test harness produced
  JSON — ``EmbeddedKafka.java:134``).
* **Hidden columns** (A7): ``_offset`` = Kafka ``offset`` metadata
  column; ``project``/``collection`` from the topic name
  (``KafkaConnectorPageSource.java:134-138,311-345``).
* **Corrupt-record tolerance** (A14): decode failures become NULL rows
  that are dropped and counted, matching the reference's drop-and-log
  (``KafkaConnectorPageSource.java:300-308``) — ``from_json`` yields
  NULL on bad input; for Avro we set ``mode=PERMISSIVE``.
* Fetch sizing/retry/pooling (A8/A11/A12) are built into Spark's Kafka
  consumer and task retry (``spark.task.maxFailures``) — no custom code,
  per SURVEY §2.A.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_rakam_kafka_spark.catalog import topic_name
from presto_rakam_kafka_spark.metastore import SchemaField, fields_to_struct
from presto_rakam_kafka_spark.plans.offset_pushdown import OffsetRange


def offsets_json(
    topic: str, partitions: list[int], start: int | None = None, end: int | None = None
) -> tuple[str, str]:
    """Build (startingOffsets, endingOffsets) JSON for one pushed-down
    scan range applied to every partition.

    ``start=None`` → earliest (-2), ``end=None`` → latest (-1): the
    special sentinels of the Kafka source, matching the reference's
    earliest/latest resolution (``KafkaSplitManager.java:163-167,194-216``).
    """
    starting = {topic: {str(p): (-2 if start is None else start) for p in partitions}}
    ending = {topic: {str(p): (-1 if end is None else end) for p in partitions}}
    return json.dumps(starting), json.dumps(ending)


def avro_available(spark: SparkSession) -> bool:
    """True if the spark-avro package is on the classpath (it is an
    external Spark module; absence gates the Avro decode path)."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.spark.sql.avro.AvroDataToCatalyst")
        return True
    except Exception:
        return False


@dataclass
class KafkaEventSource:
    """One (project, collection) event table over a Kafka topic.

    ``value_format``: ``"json"`` or ``"avro"``. The reference decodes
    Avro in production (``KafkaConnectorPageSource.java:298-301``) but
    its own test harness writes JSON (``EmbeddedKafka.java:134``); we
    support both, JSON first since spark-avro is an external jar.
    """

    bootstrap_servers: str
    value_format: str = "json"
    min_partitions: int | None = None  # A2: sub-partition split parallelism
    extra_options: dict[str, str] = field(default_factory=dict)
    #: Explicit topic partition ids (A3). When None they are discovered
    #: from broker metadata; discovery FAILURE then raises instead of
    #: silently assuming [0] (which would under-scan a multi-partition
    #: topic — data loss with no signal).
    partitions: list[int] | None = None
    #: Avro writer schema JSON. The reference fetches the writer schema
    #: from the table description (KafkaConnectorPageSource.java:89);
    #: when None the reader schema doubles as writer (no evolution).
    avro_writer_schema: str | None = None
    #: ``"raw"`` — each message is a bare Avro datum under ONE writer
    #: schema (the reference's model). ``"confluent"`` — messages carry
    #: the Confluent wire frame (0x00 magic + 4-byte BE schema id +
    #: datum) and each record's writer schema is resolved from
    #: ``schema_registry`` per id, so one topic interleaves schema
    #: versions. Beyond-reference: the de-facto Kafka serialization on
    #: real estates; JVM ``from_avro`` cannot dispatch per record, so
    #: this path always decodes through the engine's codec.
    wire_format: str = "raw"
    #: registry for ``wire_format="confluent"``: either an
    #: {id: writer schema JSON} dict (a STATIC snapshot, frozen at
    #: registration — avro_codec.SchemaRegistry) or a PATH to a JSON
    #: snapshot file, resolved per task with fetch-on-miss reload so a
    #: schema id registered MID-STREAM decodes without restarting the
    #: consumer (avro_codec.RefreshingSchemaRegistry, round 11).
    schema_registry: dict[int, str] | str | None = None

    def _reader(self, spark: SparkSession, streaming: bool):
        reader = (
            (spark.readStream if streaming else spark.read)
            .format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
        )
        if self.min_partitions is not None:
            reader = reader.option("minPartitions", str(self.min_partitions))
        for k, v in self.extra_options.items():
            reader = reader.option(k, v)
        return reader

    def _decode(
        self, spark: SparkSession, raw: DataFrame, project: str, collection: str,
        fields: list[SchemaField], extra_raw_cols: dict[str, str] | None = None,
    ) -> DataFrame:
        """``extra_raw_cols`` maps raw-frame columns to extra HIDDEN
        output columns (e.g. ``{"key": "_key"}`` — the compacted-topic
        key surface, round 10): they pass through the decode as plain
        aliases, so a filter on the hidden name pushes through the
        projection to the raw scan (`pushFilters` key pruning)."""
        extra_raw_cols = extra_raw_cols or {}
        extras = [F.col(src).alias(dst) for src, dst in extra_raw_cols.items()]
        extra_names = list(extra_raw_cols.values())
        schema = fields_to_struct(fields)
        if self.value_format == "avro":
            avro_schema = _struct_to_avro_json(schema, name=collection)
            if self.wire_format == "confluent":
                # Per-record schema-id dispatch is inexpressible in JVM
                # from_avro (one writer schema per call) — the codec's
                # wire plan decodes and resolves per id.
                if extra_raw_cols:
                    raise NotImplementedError(
                        "extra_raw_cols (expose_key) is not supported "
                        "with wire_format='confluent' (codec decode "
                        "path; same restriction as the raw-Avro "
                        "fallback)"
                    )
                if self.schema_registry is None:
                    raise ValueError(
                        "wire_format='confluent' requires schema_registry"
                    )
                return self._decode_avro_python(
                    raw, schema, avro_schema, project, collection,
                    registry=self.schema_registry,
                )
            if avro_available(spark):
                from pyspark.sql.avro.functions import from_avro

                # Projection-pruned reader schema (A5): Catalyst prunes
                # the struct fields actually referenced; schema
                # evolution is handled by Avro reader-schema resolution
                # like the reference's ResolvingDecoder
                # (PageDatumReader.java:68-93).
                decoded = raw.select(
                    F.col("offset").alias("_offset"),
                    from_avro(
                        F.col("value"), avro_schema, {"mode": "PERMISSIVE"}
                    ).alias("r"),
                    F.col("topic"),
                    *extras,
                )
                # A14 for Avro: PERMISSIVE from_avro nulls the struct on
                # decode failure — drop and keep scanning.
                decoded = decoded.filter(F.col("r").isNotNull())
            else:
                # spark-avro absent from the classpath: decode with the
                # engine's own Avro codec inside Arrow-batched
                # mapInPandas (universality over throughput — the JVM
                # branch above is the production fast path). Returns
                # flat columns, so hidden-column synthesis happens here.
                if extra_raw_cols:
                    raise NotImplementedError(
                        "extra_raw_cols (expose_key) needs the JVM "
                        "spark-avro decode; the pure-Python fallback "
                        "does not thread raw columns through its "
                        "mapInPandas schema"
                    )
                return self._decode_avro_python(
                    raw, schema, avro_schema, project, collection
                )
        else:
            # PERMISSIVE from_json yields an all-null struct (not NULL)
            # for malformed payloads, so corrupt rows must be tagged
            # explicitly to be droppable.
            from pyspark.sql import types as T

            parse_schema = T.StructType(
                [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
            )
            decoded = raw.select(
                F.col("offset").alias("_offset"),
                F.from_json(
                    F.col("value").cast("string"),
                    parse_schema,
                    {"columnNameOfCorruptRecord": "_corrupt_record"},
                ).alias("r"),
                F.col("topic"),
                *extras,
            )
            # Corrupt-record tolerance (A14): drop the whole message,
            # keep scanning (KafkaConnectorPageSource.java:300-308).
            decoded = decoded.filter(
                F.col("r").isNotNull() & F.col("r._corrupt_record").isNull()
            ).withColumn("r", F.col("r").dropFields("_corrupt_record"))
        # Hidden-column synthesis (A7) from the topic name, split on the
        # first '_' (KafkaConnectorPageSource.java:88-89,134-138).
        return decoded.select(
            "_offset",
            F.lit(project).alias("project"),
            F.lit(collection).alias("collection"),
            *extra_names,
            "r.*",
        )

    def _decode_avro_python(
        self, raw: DataFrame, schema, reader_json: str, project: str,
        collection: str, registry: dict[int, str] | None = None,
    ) -> DataFrame:
        """Fallback Avro decode: the engine's pure-Python binary codec
        (:mod:`.avro_codec`) applied per record inside ``mapInPandas``.

        Semantics match the JVM path and the reference's
        ``PageDatumReader``: reader-schema resolution with aliases,
        defaults, promotions, enum-as-string
        (``PageDatumReader.java:68-93,137-138``), and corrupt records
        dropped without failing the scan (A14,
        ``KafkaConnectorPageSource.java:300-308``).

        ``registry`` switches to the Confluent wire format: each
        message's 5-byte frame names its OWN writer schema id, decoded
        through per-id compiled plans (avro_codec.compile_wire_read_plan).
        A bad frame, unknown id, or unresolvable (writer, reader) pair
        is a corrupt record under the same A14 drop policy.
        """
        import pandas as pd
        from pyspark.sql import types as T

        from presto_rakam_kafka_spark.sources import avro_codec

        writer_json = self.avro_writer_schema or reader_json
        registry_json = (
            None
            if registry is None
            else registry  # path: resolved per task, fetch-on-miss
            if isinstance(registry, str)
            else {int(k): (v if isinstance(v, str) else json.dumps(v))
                  for k, v in registry.items()}
        )
        names = [f.name for f in schema.fields]
        out_schema = T.StructType(
            [T.StructField("_offset", T.LongType()), *schema.fields]
        )

        def decode_batches(batches):
            # Resolve (writer, reader) ONCE per task into a compiled
            # read plan (alias index, promotion checks, logical-type
            # dispatch all amortized — the reference's per-thread
            # resolver cache, PageDatumReader.java:58-93). The per-record
            # loop only drives the compiled closures. ~2.9× over the
            # interpreted decode (SCALE_NOTES.md §avro-decode).
            if registry_json is not None:
                reg = (
                    avro_codec.RefreshingSchemaRegistry(registry_json)
                    if isinstance(registry_json, str)
                    else avro_codec.SchemaRegistry(registry_json)
                )
                decode_one = avro_codec.compile_wire_read_plan(
                    reg, reader_json
                )
            else:
                decode_one = avro_codec.compile_read_plan(
                    writer_json, reader_json
                )
            for pdf in batches:
                # Columnar assembly (dict-of-lists): one pandas column
                # per field beats a DataFrame built from per-record
                # dicts by ~2× at the batch sizes Arrow hands us.
                cols: dict[str, list] = {n: [] for n in ("_offset", *names)}
                for off, val in zip(pdf["offset"], pdf["value"]):
                    if val is None:
                        continue
                    try:
                        rec = decode_one(bytes(val))
                    except avro_codec.AvroDecodeError:
                        continue  # A14: drop the message, keep scanning
                    cols["_offset"].append(int(off))
                    for n in names:
                        cols[n].append(rec.get(n))
                if not cols["_offset"]:
                    # every record dropped: empty lists would type as
                    # float64 columns that Arrow cannot cast to e.g.
                    # TIMESTAMP — an empty batch contributes nothing
                    continue
                yield pd.DataFrame(cols, columns=["_offset", *names])

        decoded = raw.select("offset", "value").mapInPandas(
            decode_batches, schema=out_schema
        )
        return decoded.select(
            "_offset",
            F.lit(project).alias("project"),
            F.lit(collection).alias("collection"),
            *names,
        )

    def scan(
        self,
        spark: SparkSession,
        project: str,
        collection: str,
        fields: list[SchemaField],
        offset_ranges: list[OffsetRange] | None = None,
    ) -> DataFrame:
        """Batch scan of a frozen offset range (the reference's model)."""
        topic = topic_name(project, collection)
        reader = self._reader(spark, streaming=False).option("subscribe", topic)
        if offset_ranges:
            if len(offset_ranges) == 1:
                # Single pushed-down range → scan bounds (A4/O1).
                r = offset_ranges[0]
                partitions = self._discover_partitions(spark, topic)
                starting, ending = offsets_json(topic, partitions, r.start, r.end)
                reader = reader.option("startingOffsets", starting).option(
                    "endingOffsets", ending
                )
                df = self._decode(spark, reader.load(), project, collection, fields)
            else:
                # Multiple disjoint ranges: widest bounds at the scan +
                # residual range filter (still pruned vs full scan).
                lo = min(r.start for r in offset_ranges)
                hi_vals = [r.end for r in offset_ranges]
                hi = None if any(h is None for h in hi_vals) else max(hi_vals)
                partitions = self._discover_partitions(spark, topic)
                starting, ending = offsets_json(topic, partitions, lo, hi)
                reader = reader.option("startingOffsets", starting).option(
                    "endingOffsets", ending
                )
                from presto_rakam_kafka_spark.sources.parquet import (
                    offset_ranges_to_predicate,
                )

                df = self._decode(spark, reader.load(), project, collection, fields)
                df = df.filter(offset_ranges_to_predicate(offset_ranges))
        else:
            df = self._decode(spark, reader.load(), project, collection, fields)
        return df

    def stream(
        self,
        spark: SparkSession,
        project: str,
        collection: str,
        fields: list[SchemaField],
        starting_offsets: str = "latest",
        max_offsets_per_trigger: int | None = None,
    ) -> DataFrame:
        """Streaming scan — beyond-reference surface (SURVEY §7 step 4)."""
        topic = topic_name(project, collection)
        reader = (
            self._reader(spark, streaming=True)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
        )
        if max_offsets_per_trigger is not None:
            reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        return self._decode(spark, reader.load(), project, collection, fields)

    def _discover_partitions(self, spark: SparkSession, topic: str) -> list[int]:
        """Partition discovery (A3). The Spark Kafka source discovers
        partitions itself when given ``subscribe``; explicit discovery
        is only needed to build per-partition offset JSON for pushed-
        down bounds. Resolution order:

        1. the explicit ``partitions`` list, when configured;
        2. broker metadata via kafka-python, when importable — the
           reference's real-metadata enumeration
           (``KafkaSplitManager.java:84-138``);
        3. otherwise **raise**. The pre-round-3 behavior silently fell
           back to ``[0]``, which on a multi-partition topic bounds the
           scan to one partition — data loss with no signal.
        """
        if self.partitions is not None:
            return list(self.partitions)
        try:  # pragma: no cover - exercised only with a live broker
            from kafka import KafkaConsumer  # type: ignore
        except ImportError:
            raise PartitionDiscoveryError(
                f"cannot discover partitions for topic {topic!r}: kafka-python "
                "is not installed. Pass KafkaEventSource(partitions=[...]) "
                "explicitly, or install a Kafka client for metadata discovery."
            ) from None
        try:  # pragma: no cover - exercised only with a live broker
            consumer = KafkaConsumer(bootstrap_servers=self.bootstrap_servers)
            try:
                parts = consumer.partitions_for_topic(topic)
            finally:
                consumer.close()
        except Exception as e:  # pragma: no cover
            raise PartitionDiscoveryError(
                f"partition discovery failed for topic {topic!r} at "
                f"{self.bootstrap_servers!r}: {e}. Pass "
                "KafkaEventSource(partitions=[...]) to scan explicit partitions."
            ) from e
        if not parts:  # pragma: no cover
            raise PartitionDiscoveryError(
                f"topic {topic!r} reports no partitions (topic missing?)"
            )
        return sorted(parts)  # pragma: no cover


class PartitionDiscoveryError(RuntimeError):
    """Raised when topic partition metadata cannot be enumerated and no
    explicit partition list was configured (A3). The reference builds
    splits from real partition metadata (``KafkaSplitManager.java:84-138``)
    and fails the query when the broker is unreachable — silent
    single-partition fallback is never correct."""


def _struct_to_avro_json(schema, name: str = "record") -> str:
    """StructType → Avro reader-schema JSON (nullable unions), covering
    the reference's flat type lattice (SURVEY §1.5) plus arrays/maps.

    Column metadata extensions (set via :class:`..metastore.SchemaField`):

    * ``avro.enum.symbols`` — the column is an Avro ENUM read as its
      symbol string (``PageDatumReader.java:137-138``); emitted as an
      enum schema so reader-side symbol validation applies.
    * ``avro.aliases`` — previous field names; emitted as Avro field
      aliases so old payloads resolve (``Schema.applyAliases``,
      ``PageDatumReader.java:84``).
    """
    from pyspark.sql import types as T

    def conv(dt) -> object:
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.IntegerType):
            return "int"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.ArrayType):
            return {"type": "array", "items": conv(dt.elementType)}
        if isinstance(dt, T.MapType):
            return {"type": "map", "values": conv(dt.valueType)}
        if isinstance(dt, T.StructType):
            return {
                "type": "record",
                "name": f"{name}_nested",
                "fields": [
                    {"name": f.name, "type": ["null", conv(f.dataType)]}
                    for f in dt.fields
                ],
            }
        raise ValueError(f"unsupported avro type: {dt}")

    def field_schema(f) -> dict:
        md = f.metadata or {}
        symbols = md.get("avro.enum.symbols")
        if symbols:
            inner: object = {
                "type": "enum",
                "name": f"{f.name}_enum",
                "symbols": list(symbols),
            }
        else:
            inner = conv(f.dataType)
        out: dict = {"name": f.name, "type": ["null", inner], "default": None}
        aliases = md.get("avro.aliases")
        if aliases:
            out["aliases"] = list(aliases)
        return out

    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [field_schema(f) for f in schema.fields],
        }
    )
