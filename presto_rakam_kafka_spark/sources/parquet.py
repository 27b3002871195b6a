"""Parquet-backed event source (fixture/batch path).

The reference has no file source — this is the batch stand-in the tests
and the driver fixtures use (TESTDATA.md).  It reproduces the tier-A
semantics on top of a parquet scan:

* hidden columns ``_offset``/``project``/``collection`` synthesized per
  row, like ``KafkaConnectorPageSource.java:119-145,311-345`` does with
  per-message suppliers;
* ``_offset`` pushdown becomes a plain filter on the offset column,
  which Catalyst pushes into the parquet scan (visible as
  ``PushedFilters`` in ``.explain``) — the same scan-pruning effect as
  ``KafkaSplitManager.java:153-178``, achieved declaratively;
* column pruning is free (Catalyst prunes the parquet ``ReadSchema``,
  the analog of the projected Avro reader schema at
  ``KafkaConnectorPageSource.java:91-105``).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from presto_rakam_kafka_spark.metastore import SchemaField
from presto_rakam_kafka_spark.plans.offset_pushdown import OffsetRange


#: Spark lists a read's paths with a parallel job, one task per path,
#: once there are more than this many
#: (``spark.sql.sources.parallelPartitionDiscovery.threshold``).
LISTING_PATHS = 32


def read_parquet_files(
    spark: SparkSession,
    files: list[str],
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Spark's parquet scan of a non-empty explicit file list, built
    without a listing job: at most :data:`LISTING_PATHS` paths go to
    each ``parquet()`` call, and the chunks combine by
    ``unionByName`` (a missing column reads as null)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    chunks = [
        reader.parquet(*files[i : i + LISTING_PATHS])
        for i in range(0, len(files), LISTING_PATHS)
    ]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), chunks
    )


@dataclass
class ParquetEventSource:
    """One (project, collection) table backed by a parquet path.

    ``offset_column``: existing monotone column exposed as ``_offset``
    (fixtures have no Kafka offsets; e.g. ``event_id`` per FIXTURES.md).
    When absent, ``_offset`` is a per-partition monotone id — stable
    within a read, not across reads (documented limitation; real offset
    semantics live in the Kafka source).
    """

    path: str
    offset_column: str | None = None
    #: parquet TIMESTAMP(NANOS) columns to rebuild as µs timestamps
    #: (Spark 4 rejects the nanos parquet type; see fixtures.NANOS_TS_COLUMNS).
    nanos_ts_columns: tuple[str, ...] = ()

    def scan(
        self,
        spark: SparkSession,
        project: str,
        collection: str,
        fields: list[SchemaField],
        offset_ranges: list[OffsetRange] | None = None,
    ) -> DataFrame:
        if self.nanos_ts_columns:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(self.path)
        dtypes = dict(df.dtypes)
        for c in self.nanos_ts_columns:
            # Rebuild only TIMESTAMP(NANOS) columns (long under the legacy
            # conf); µs files arrive as native timestamps. Normalize NTZ
            # to TIMESTAMP (session pinned UTC → value-preserving).
            if dtypes.get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
            elif dtypes.get(c) == "timestamp_ntz":
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        if self.offset_column is not None:
            offset = F.col(self.offset_column).cast("long")
        else:
            offset = F.monotonically_increasing_id()
        df = (
            df.withColumn("_offset", offset)
            # project/collection are constants per table — the reference
            # fills them from the topic name per message
            # (KafkaConnectorPageSource.java:134-138); Catalyst folds the
            # literals so they cost nothing at scan time.
            .withColumn("project", F.lit(project))
            .withColumn("collection", F.lit(collection))
        )
        if offset_ranges:
            df = df.filter(offset_ranges_to_predicate(offset_ranges))
        return df


def offset_ranges_to_predicate(ranges: list[OffsetRange]) -> Column:
    """OR of half-open range predicates on ``_offset``.

    Because ``_offset`` is (a cast of) a physical column, Catalyst pushes
    the comparison into the parquet scan — the declarative equivalent of
    the reference's split-bound pruning.
    """
    preds = []
    for r in ranges:
        p = F.col("_offset") >= F.lit(r.start)
        if r.end is not None:
            p = p & (F.col("_offset") < F.lit(r.end))
        preds.append(p)
    return reduce(lambda a, b: a | b, preds)
