"""presto_rakam_kafka_spark — a PySpark-native analytics engine with the
capabilities of the ``buremba/presto-rakam-kafka`` Presto connector.

The reference is a Presto 0.123 plugin exposing Kafka topics full of
Avro-encoded Rakam events as SQL tables (``/root/reference``, see SURVEY.md).
Its capability surface splits in two tiers:

* **Tier A** (connector code): metastore-driven schemas, hidden system
  columns (``_offset``/``project``/``collection``), offset-predicate
  pushdown, projected Avro decode, split planning.  Rebuilt here in
  :mod:`~presto_rakam_kafka_spark.metastore`,
  :mod:`~presto_rakam_kafka_spark.catalog`, and
  :mod:`~presto_rakam_kafka_spark.sources`.
* **Tier B** (the host Presto engine's relational surface): joins, aggs,
  windows, set ops, scalar functions.  Provided by Spark SQL / Catalyst;
  asserted by the query inventory in ``__spark_entry__.py`` and tests.

Beyond the reference, the engine adds LLM-data-pipeline operators
(:mod:`~presto_rakam_kafka_spark.operators`) and a Structured Streaming
surface (:mod:`~presto_rakam_kafka_spark.streaming`), all designed for
multi-executor scale (no driver-side collection in any hot path).
"""

from presto_rakam_kafka_spark import pyworker  # noqa: F401 — installs itself
from presto_rakam_kafka_spark.catalog import EventCatalog, TableNotFoundError
from presto_rakam_kafka_spark.metastore import (
    FieldType,
    InMemoryMetastore,
    JsonFileMetastore,
    Metastore,
    SchemaField,
)
from presto_rakam_kafka_spark.session import get_spark

__all__ = [
    "EventCatalog",
    "TableNotFoundError",
    "FieldType",
    "InMemoryMetastore",
    "JsonFileMetastore",
    "Metastore",
    "SchemaField",
    "get_spark",
]

__version__ = "0.1.0"
