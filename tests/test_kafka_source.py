"""Kafka source decode path, broker-free: the raw frame a Kafka scan
produces (key/value/topic/partition/offset) is synthesized locally and
pushed through ``KafkaEventSource._decode`` — asserting the tier-A
semantics the reference implements in Java:

* hidden-column synthesis from offset + topic name (A7,
  KafkaConnectorPageSource.java:134-138,311-345)
* corrupt-record drop-and-log (A14, KafkaConnectorPageSource.java:300-308)
* schema evolution: added fields read NULL, removed fields ignored
  (A6 resolver semantics, PageDatumReader.java:68-93)
* offsets_json pushdown envelope (A4, KafkaSplitManager.java:153-178)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from presto_rakam_kafka_spark.metastore import SchemaField
from presto_rakam_kafka_spark.sources.kafka import KafkaEventSource, offsets_json
from presto_rakam_kafka_spark.types import FieldType

FIELDS = [
    SchemaField("user_id", FieldType.LONG),
    SchemaField("event_type", FieldType.STRING),
    SchemaField("value", FieldType.DOUBLE),
]

RAW_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
    ]
)


def _raw(spark, payloads: list[bytes | None], topic: str = "web_pageview"):
    rows = [(None, p, topic, 0, i) for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, RAW_SCHEMA)


def _payload(**kw) -> bytes:
    return json.dumps(kw).encode()


def test_decode_hidden_columns_and_values(spark):
    src = KafkaEventSource(bootstrap_servers="none:9092")
    raw = _raw(
        spark,
        [
            _payload(user_id=7, event_type="view", value=1.5),
            _payload(user_id=8, event_type="click", value=2.5),
        ],
    )
    out = src._decode(spark, raw, "web", "pageview", FIELDS)
    rows = sorted(out.collect(), key=lambda r: r["_offset"])
    assert [r["_offset"] for r in rows] == [0, 1]
    assert all(r["project"] == "web" and r["collection"] == "pageview" for r in rows)
    assert [(r["user_id"], r["event_type"], r["value"]) for r in rows] == [
        (7, "view", 1.5),
        (8, "click", 2.5),
    ]
    # hidden columns lead, user columns follow — the reference's
    # prepend order (KafkaMetadata.java:165-167)
    assert out.columns[:3] == ["_offset", "project", "collection"]


def test_decode_drops_corrupt_records(spark):
    """A payload that fails to decode is dropped, the scan continues
    (KafkaConnectorPageSource.java:300-308)."""
    src = KafkaEventSource(bootstrap_servers="none:9092")
    raw = _raw(
        spark,
        [
            _payload(user_id=1, event_type="view", value=0.5),
            b"\x00\x01 not json at all",
            _payload(user_id=2, event_type="view", value=1.0),
        ],
    )
    out = src._decode(spark, raw, "web", "pageview", FIELDS)
    assert sorted(r["user_id"] for r in out.collect()) == [1, 2]


def test_schema_evolution_added_and_removed_fields(spark):
    """Reader-schema resolution like the reference's ResolvingDecoder
    (PageDatumReader.java:68-93): a reader field missing from old
    payloads reads NULL; writer fields dropped from the reader schema
    are skipped."""
    src = KafkaEventSource(bootstrap_servers="none:9092")
    raw = _raw(
        spark,
        [
            # old writer: no 'value' yet, has legacy 'extra'
            _payload(user_id=1, event_type="view", extra="legacy"),
            # new writer: full schema
            _payload(user_id=2, event_type="click", value=3.0),
        ],
    )
    out = src._decode(spark, raw, "web", "pageview", FIELDS)
    rows = {r["user_id"]: r for r in out.collect()}
    assert rows[1]["value"] is None
    assert rows[2]["value"] == 3.0
    assert "extra" not in out.columns


def test_decode_projection_prunes_to_scan(spark, tmp_path):
    """Selecting a column subset prunes the raw scan (A5): the parquet
    scan reads only the payload column, none of the raw columns the
    decode leaves unused, and parses it with exactly one ``from_json``.
    The parse itself still reads every reader-schema field: it sits
    inside the decode's generator, where Catalyst does not prune a
    ``from_json`` schema."""
    import re

    path = str(tmp_path / "raw")
    _raw(spark, [_payload(user_id=1, event_type="view", value=0.5)]).write.parquet(path)
    src = KafkaEventSource(bootstrap_servers="none:9092")
    out = src._decode(
        spark, spark.read.parquet(path), "web", "pageview", FIELDS
    ).select("user_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"ReadSchema: (\S+)", plan) == ["struct<value:binary>"], plan
    assert plan.count("from_json(") == 1, plan
    assert [r["user_id"] for r in out.collect()] == [1]


def test_offsets_json_envelope():
    starting, ending = offsets_json("web_pageview", [0, 1], 100, 500)
    assert json.loads(starting) == {"web_pageview": {"0": 100, "1": 100}}
    assert json.loads(ending) == {"web_pageview": {"0": 500, "1": 500}}
    # unbounded ends resolve to the source's earliest/latest sentinels,
    # matching the reference's resolution (KafkaSplitManager.java:163-167)
    starting, ending = offsets_json("t", [0], None, None)
    assert json.loads(starting) == {"t": {"0": -2}}
    assert json.loads(ending) == {"t": {"0": -1}}


def test_avro_schema_conversion_roundtrip():
    """StructType → Avro JSON covers the reference's live type lattice
    (SURVEY §1.5) plus the beyond-reference array case."""
    from presto_rakam_kafka_spark.metastore import fields_to_struct
    from presto_rakam_kafka_spark.sources.kafka import _struct_to_avro_json

    schema = fields_to_struct(FIELDS)
    avro = json.loads(_struct_to_avro_json(schema, name="pageview"))
    assert avro["type"] == "record" and avro["name"] == "pageview"
    got = {f["name"]: f["type"] for f in avro["fields"]}
    assert got == {
        "user_id": ["null", "long"],
        "event_type": ["null", "string"],
        "value": ["null", "double"],
    }


# ---------------------------------------------------------------------
# Avro binary codec + end-to-end Avro decode (A6)
# ---------------------------------------------------------------------

import datetime as dt

import pytest

from presto_rakam_kafka_spark.sources import avro_codec

WRITER_V1 = json.dumps(
    {
        "type": "record",
        "name": "pageview",
        "fields": [
            {"name": "user_id", "type": "int"},  # promoted to long by reader
            {"name": "event_name", "type": ["null", "string"]},  # renamed later
            {
                "name": "color",
                "type": {
                    "type": "enum",
                    "name": "color_enum",
                    "symbols": ["RED", "GREEN", "BLUE"],
                },
            },
            {"name": "legacy", "type": "string"},  # dropped by reader
        ],
    }
)


def _avro_v1(user_id: int, event_name: str | None, color: str, legacy: str = "x") -> bytes:
    return avro_codec.encode(
        {
            "user_id": user_id,
            "event_name": event_name,
            "color": color,
            "legacy": legacy,
        },
        WRITER_V1,
    )


def test_avro_codec_roundtrip_all_types():
    """Encode → decode with writer == reader across the full lattice."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "by", "type": "bytes"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    value = {
        "s": "héllo",
        "i": -42,
        "l": 1 << 40,
        "f": 1.5,
        "d": -2.25,
        "b": True,
        "by": b"\x00\xff",
        "n": None,
        "arr": [1, -2, 3],
        "m": {"k1": "v1", "k2": "v2"},
        "dt": dt.date(2024, 5, 17),
        "ts": dt.datetime(2024, 5, 17, 12, 30, 45, 123456),
    }
    got = avro_codec.decode(avro_codec.encode(value, schema), schema)
    assert got == value


def test_avro_codec_resolution_alias_default_promotion_skip():
    """The reference's ResolvingDecoder semantics
    (PageDatumReader.java:68-93): alias rename, missing-field default,
    int→long promotion, writer-only field skipped, enum→string."""
    reader = {
        "type": "record",
        "name": "pageview",
        "fields": [
            {"name": "user_id", "type": ["null", "long"], "default": None},
            {
                "name": "event_type",
                "type": ["null", "string"],
                "default": None,
                "aliases": ["event_name"],  # renamed field (applyAliases)
            },
            {"name": "value", "type": ["null", "double"], "default": None},  # new
            {"name": "color", "type": ["null", "string"], "default": None},
        ],
    }
    got = avro_codec.decode(_avro_v1(7, "view", "GREEN"), WRITER_V1, reader)
    assert got == {
        "user_id": 7,          # int datum read as long
        "event_type": "view",  # via alias
        "value": None,         # reader-only field -> default
        "color": "GREEN",      # enum symbol as string
    }
    assert "legacy" not in got  # writer-only field skipped


def test_avro_codec_rejects_malformed():
    for payload in (b"", b"\x07", b"\xff" * 12, _avro_v1(1, "v", "RED") + b"junk"):
        with pytest.raises(avro_codec.AvroDecodeError):
            avro_codec.decode(payload, WRITER_V1)


def test_compiled_plan_matches_interpreted_decode():
    """compile_read_plan must agree byte-for-byte with the interpreted
    decode across the whole type lattice AND the evolution feature set
    (alias, default, promotion, writer-only skip, enum-as-string) — the
    amortization can't change semantics."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "i", "type": "int"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    import datetime as dt_mod

    value = {
        "s": "héllo",
        "i": -42,
        "n": 7,
        "arr": [1, -2, 3],
        "m": {"k": "v"},
        "dt": dt_mod.date(2024, 5, 17),
        "ts": dt_mod.datetime(2024, 5, 17, 12, 30, 45, 123456),
    }
    data = avro_codec.encode(value, schema)
    plan = avro_codec.compile_read_plan(schema)
    assert plan(data) == avro_codec.decode(data, schema) == value

    # evolution: same assertions as the interpreted resolution test
    reader = {
        "type": "record",
        "name": "pageview",
        "fields": [
            {"name": "user_id", "type": ["null", "long"], "default": None},
            {
                "name": "event_type",
                "type": ["null", "string"],
                "default": None,
                "aliases": ["event_name"],
            },
            {"name": "value", "type": ["null", "double"], "default": None},
            {"name": "color", "type": ["null", "string"], "default": None},
        ],
    }
    plan2 = avro_codec.compile_read_plan(WRITER_V1, reader)
    payload = _avro_v1(7, "view", "GREEN")
    assert plan2(payload) == avro_codec.decode(payload, WRITER_V1, reader)

    # corrupt data still raises the DATA error class (A14 path)
    for bad in (b"", b"\xff" * 12, payload + b"junk"):
        with pytest.raises(avro_codec.AvroDecodeError):
            plan2(bad)


def test_compiled_plan_amortizes_resolution(monkeypatch):
    """Schema resolution happens at compile time, once — NOT per record
    (the reference caches resolvers per thread, PageDatumReader.java:
    58-93). Counted via the alias-index builder, which the interpreted
    path re-invokes for every record."""
    calls = {"n": 0}
    orig = avro_codec._reader_field_index

    def counting(reader):
        calls["n"] += 1
        return orig(reader)

    monkeypatch.setattr(avro_codec, "_reader_field_index", counting)
    plan = avro_codec.compile_read_plan(WRITER_V1)
    built = calls["n"]
    assert built >= 1
    payload = _avro_v1(1, "view", "RED")
    for _ in range(100):
        plan(payload)
    assert calls["n"] == built  # zero re-resolution across 100 records

    # contrast: the interpreted path pays it per record (documents WHY
    # the compiled plan is the batch-loop entry point)
    calls["n"] = 0
    w = avro_codec.parse_schema(WRITER_V1)
    for _ in range(10):
        avro_codec.decode_parsed(payload, w, w)
    assert calls["n"] == 10


def test_avro_codec_roundtrip_property():
    """Property (hypothesis): for random flat records over the engine's
    type lattice, encode → decode is the identity AND the compiled plan
    agrees with the interpreted decoder byte-for-byte."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    field_types = {
        "long": st.integers(min_value=-(2**62), max_value=2**62),
        "string": st.text(max_size=40),
        "double": st.floats(allow_nan=False, allow_infinity=False, width=64),
        "boolean": st.booleans(),
        "bytes": st.binary(max_size=32),
    }

    @given(
        st.lists(
            st.sampled_from(sorted(field_types)), min_size=1, max_size=6
        ).flatmap(
            lambda types: st.tuples(
                st.just(types),
                st.tuples(*(field_types[t] for t in types)),
            )
        )
    )
    @settings(max_examples=60, deadline=None)
    def check(case):
        types, values = case
        schema = {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": f"f{i}", "type": t} for i, t in enumerate(types)
            ],
        }
        value = {f"f{i}": v for i, v in enumerate(values)}
        data = avro_codec.encode(value, schema)
        interpreted = avro_codec.decode(data, schema)
        compiled = avro_codec.compile_read_plan(schema)(data)
        assert interpreted == compiled
        for i, t in enumerate(types):
            got, want = interpreted[f"f{i}"], value[f"f{i}"]
            if t == "double":
                assert got == want or (got != got and want != want)
            else:
                assert got == want

    check()


def test_avro_decode_end_to_end(spark):
    """Real Avro bytes through KafkaEventSource._decode — executes the
    value_format='avro' branch (the reference's production format,
    KafkaConnectorPageSource.java:298-301) with reader-schema evolution:
    alias rename, added-field default, int→long promotion, enum-as-
    string, and corrupt-record drop (A14). Runs the engine codec path
    when spark-avro is absent, the JVM from_avro path when present."""
    fields = [
        SchemaField("user_id", FieldType.LONG),
        SchemaField("event_type", FieldType.STRING, aliases=("event_name",)),
        SchemaField("value", FieldType.DOUBLE),
        SchemaField(
            "color", FieldType.STRING, enum_symbols=("RED", "GREEN", "BLUE")
        ),
    ]
    src = KafkaEventSource(
        bootstrap_servers="none:9092",
        value_format="avro",
        avro_writer_schema=WRITER_V1,
    )
    raw = _raw(
        spark,
        [
            _avro_v1(7, "view", "GREEN"),
            b"\xff\xff\xff\xff\xff",  # corrupt: dropped, scan continues
            _avro_v1(8, None, "BLUE"),
        ],
    )
    out = src._decode(spark, raw, "web", "pageview", fields)
    assert out.columns == [
        "_offset", "project", "collection", "user_id", "event_type", "value", "color",
    ]
    rows = sorted(out.collect(), key=lambda r: r["_offset"])
    assert [r["_offset"] for r in rows] == [0, 2]
    assert all(r["project"] == "web" and r["collection"] == "pageview" for r in rows)
    assert (rows[0]["user_id"], rows[0]["event_type"], rows[0]["color"]) == (
        7, "view", "GREEN",
    )
    assert rows[0]["value"] is None  # reader-only field: default
    assert (rows[1]["user_id"], rows[1]["event_type"], rows[1]["color"]) == (
        8, None, "BLUE",
    )


def test_avro_reader_schema_emits_enum_and_aliases():
    """SchemaField enum_symbols/aliases flow into the generated Avro
    reader schema (enum branch was missing through round 2 —
    PageDatumReader.java:137-138)."""
    from presto_rakam_kafka_spark.metastore import fields_to_struct
    from presto_rakam_kafka_spark.sources.kafka import _struct_to_avro_json

    struct = fields_to_struct(
        [
            SchemaField(
                "color", FieldType.STRING, enum_symbols=("RED", "GREEN", "BLUE")
            ),
            SchemaField("event_type", FieldType.STRING, aliases=("event_name",)),
        ]
    )
    avro = json.loads(_struct_to_avro_json(struct, name="t"))
    color, event_type = avro["fields"]
    assert color["type"][1] == {
        "type": "enum", "name": "color_enum", "symbols": ["RED", "GREEN", "BLUE"],
    }
    assert event_type["aliases"] == ["event_name"]


# ---------------------------------------------------------------------
# Partition discovery (A3)
# ---------------------------------------------------------------------


def test_partition_discovery_explicit_list(spark):
    src = KafkaEventSource(bootstrap_servers="none:9092", partitions=[0, 1, 2])
    assert src._discover_partitions(spark, "web_pageview") == [0, 1, 2]


def test_partition_discovery_failure_raises(spark):
    """No explicit list + no Kafka client importable must RAISE, not
    silently scan partition 0 of a multi-partition topic (the reference
    enumerates real metadata or fails, KafkaSplitManager.java:84-138)."""
    from presto_rakam_kafka_spark.sources.kafka import PartitionDiscoveryError

    src = KafkaEventSource(bootstrap_servers="unreachable:9092")
    with pytest.raises(PartitionDiscoveryError, match="partitions"):
        src._discover_partitions(spark, "web_pageview")


# ---------------------------------------------------------------------
# Confluent wire format (round 10)
# ---------------------------------------------------------------------

_W_V1 = (
    '{"type": "record", "name": "m1", "fields": ['
    '{"name": "uid", "type": "int"}, {"name": "tag", "type": "string"}]}'
)
_W_V2 = (
    '{"type": "record", "name": "m2", "fields": ['
    '{"name": "user_id", "type": "long"},'
    '{"name": "extra", "type": "double"}]}'
)
_READER = (
    '{"type": "record", "name": "m", "fields": ['
    '{"name": "user_id", "type": "long", "aliases": ["uid"]},'
    '{"name": "tag", "type": "string", "default": "none"}]}'
)


def _frame(schema_json, schema_id, rec):
    from presto_rakam_kafka_spark.sources import avro_codec

    out = bytearray()
    avro_codec._encode_value(
        rec, avro_codec.parse_schema(schema_json), out
    )
    return avro_codec.wrap_confluent(schema_id, bytes(out))


def test_wire_unwrap_roundtrip_and_errors():
    from presto_rakam_kafka_spark.sources import avro_codec

    frame = avro_codec.wrap_confluent(1234567, b"datum")
    assert frame[:1] == b"\x00" and len(frame) == 10
    assert avro_codec.unwrap_confluent(frame) == (1234567, b"datum")
    with pytest.raises(avro_codec.AvroDecodeError, match="magic"):
        avro_codec.unwrap_confluent(b"\x01" + frame[1:])
    with pytest.raises(avro_codec.AvroDecodeError, match="short"):
        avro_codec.unwrap_confluent(b"\x00\x00\x00")


def test_wire_plan_dispatches_per_id_with_resolution():
    """One decode plan handles interleaved schema versions: v1 needs
    alias + int→long promotion, v2 needs a reader default + a
    writer-only skip; an unknown id and a non-record registry entry
    fail loudly."""
    from presto_rakam_kafka_spark.sources import avro_codec

    reg = avro_codec.SchemaRegistry({1: _W_V1, 2: _W_V2})
    decode = avro_codec.compile_wire_read_plan(reg, _READER)
    assert decode(_frame(_W_V1, 1, {"uid": 7, "tag": "a"})) == {
        "user_id": 7, "tag": "a"
    }
    assert decode(_frame(_W_V2, 2, {"user_id": 9, "extra": 1.5})) == {
        "user_id": 9, "tag": "none"
    }
    with pytest.raises(avro_codec.AvroDecodeError, match="not in registry"):
        decode(_frame(_W_V1, 3, {"uid": 7, "tag": "a"}))
    with pytest.raises(avro_codec.AvroSchemaError, match="record"):
        avro_codec.SchemaRegistry(
            {1: '{"type": "enum", "name": "e", "symbols": ["A"]}'}
        )


def test_wire_plan_compiles_once_per_id(monkeypatch):
    """Per-id plan cache: 1000 interleaved records across two ids cost
    exactly two plan compilations (the per-task amortization that makes
    the codec viable as a batch decode path)."""
    from presto_rakam_kafka_spark.sources import avro_codec

    calls = []
    real = avro_codec._compile_record_plan

    def counting(writer, reader):
        calls.append(writer["name"])
        return real(writer, reader)

    monkeypatch.setattr(avro_codec, "_compile_record_plan", counting)
    reg = avro_codec.SchemaRegistry({1: _W_V1, 2: _W_V2})
    decode = avro_codec.compile_wire_read_plan(reg, _READER)
    f1 = _frame(_W_V1, 1, {"uid": 7, "tag": "a"})
    f2 = _frame(_W_V2, 2, {"user_id": 9, "extra": 1.5})
    for i in range(500):
        decode(f1)
        decode(f2)
    assert sorted(calls) == ["m1", "m2"]


def test_wire_decode_end_to_end_drops_corrupt(spark):
    """KafkaEventSource(wire_format='confluent'): interleaved versions
    decode, corrupt frames (unknown id / bad magic / truncated / bare
    datum without frame) drop under A14, and config errors raise."""
    from pyspark.sql import types as T

    from presto_rakam_kafka_spark.metastore import SchemaField
    from presto_rakam_kafka_spark.sources import avro_codec
    from presto_rakam_kafka_spark.sources.kafka import KafkaEventSource
    from presto_rakam_kafka_spark.types import FieldType

    good = [
        (0, _frame(_W_V1, 1, {"uid": 10, "tag": "x"})),
        (1, _frame(_W_V2, 2, {"user_id": 20, "extra": 0.5})),
        (2, _frame(_W_V1, 1, {"uid": 30, "tag": "y"})),
    ]
    out = bytearray()
    avro_codec._encode_value(
        {"uid": 5, "tag": "z"}, avro_codec.parse_schema(_W_V1), out
    )
    bad = [
        (10, avro_codec.wrap_confluent(77, bytes(out))),  # unknown id
        (11, b"\x09" + _frame(_W_V1, 1, {"uid": 1, "tag": "q"})[1:]),
        (12, b"\x00\x00\x00"),  # truncated header
        (13, bytes(out)),  # bare datum, no frame (magic will mismatch)
    ]
    raw = spark.createDataFrame(
        [(None, v, "t_e", 0, off) for off, v in good + bad],
        T.StructType([
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
        ]),
    )
    fields = [
        SchemaField("user_id", FieldType.LONG, aliases=("uid",)),
        SchemaField("tag", FieldType.STRING),
    ]
    src = KafkaEventSource(
        bootstrap_servers="none:9092",
        value_format="avro",
        wire_format="confluent",
        schema_registry={1: _W_V1, 2: _W_V2},
    )
    rows = src._decode(spark, raw, "p", "c", fields).collect()
    # v2 lacks `tag` → the (nullable) reader default; corrupt frames gone
    assert sorted((r["_offset"], r["user_id"], r["tag"]) for r in rows) == [
        (0, 10, "x"), (1, 20, None), (2, 30, "y"),
    ]

    with pytest.raises(ValueError, match="schema_registry"):
        KafkaEventSource(
            bootstrap_servers="none:9092", value_format="avro",
            wire_format="confluent",
        )._decode(spark, raw, "p", "c", fields)


def test_compat_issues_resolution_rules():
    """Static schema-resolution vetting mirrors what the decode does
    per datum: promotions and alias matches pass; lost fields without
    defaults, narrowing promotions, and shrunken enums fail with
    path-qualified reasons."""
    from presto_rakam_kafka_spark.sources import avro_codec as A

    v1 = (
        '{"type": "record", "name": "r", "fields": ['
        '{"name": "a", "type": "int"},'
        '{"name": "b", "type": {"type": "enum", "name": "e",'
        ' "symbols": ["X", "Y"]}},'
        '{"name": "c", "type": {"type": "array", "items": "int"}}]}'
    )
    # widen int->long, enum superset, array items widened: compatible
    ok = (
        '{"type": "record", "name": "r", "fields": ['
        '{"name": "a", "type": "long"},'
        '{"name": "b", "type": {"type": "enum", "name": "e",'
        ' "symbols": ["X", "Y", "Z"]}},'
        '{"name": "c", "type": {"type": "array", "items": "double"}},'
        '{"name": "d", "type": "string", "default": "dd"}]}'
    )
    assert A.compat_issues(v1, ok) == []
    # narrowing long->int, enum shrunk, new field without default
    bad = (
        '{"type": "record", "name": "r", "fields": ['
        '{"name": "a", "type": "long"},'
        '{"name": "b", "type": {"type": "enum", "name": "e",'
        ' "symbols": ["X"]}},'
        '{"name": "c", "type": {"type": "array", "items": "int"}},'
        '{"name": "d", "type": "string"}]}'
    )
    # v1 reading `bad`'s data: d is writer-only (skipped), enum X ⊂ v1's
    # symbols, BUT a narrows long→int — exactly one issue, path-named
    issues = A.compat_issues(bad, v1)
    assert len(issues) == 1 and "$.a" in issues[0] and "promote" in issues[0]
    issues2 = A.compat_issues(
        '{"type": "record", "name": "r", "fields": ['
        '{"name": "a", "type": "long"}]}',
        '{"type": "record", "name": "r", "fields": ['
        '{"name": "a", "type": "int"}]}',
    )
    assert issues2 and "promote" in issues2[0]
    # missing-without-default + shrunken enum, both path-qualified
    issues3 = A.compat_issues(v1, bad)
    assert any("$.d" in m and "no" in m for m in issues3)
    assert any("$.b" in m and "Y" in m for m in issues3)


def test_registry_add_enforces_compatibility():
    from presto_rakam_kafka_spark.sources import avro_codec as A

    v1 = (
        '{"type": "record", "name": "m", "fields": ['
        '{"name": "uid", "type": "int"}]}'
    )
    reg = A.SchemaRegistry({1: v1})
    # BACKWARD ok: new version widens + adds defaulted field
    reg.add(2, (
        '{"type": "record", "name": "m", "fields": ['
        '{"name": "uid", "type": "long"},'
        '{"name": "tag", "type": "string", "default": "none"}]}'
    ), compatibility="BACKWARD")
    assert reg.ids() == [1, 2]
    # BACKWARD violation: required field the old writer never wrote
    with pytest.raises(A.AvroSchemaError, match="BACKWARD"):
        reg.add(3, (
            '{"type": "record", "name": "m", "fields": ['
            '{"name": "uid", "type": "long"},'
            '{"name": "req", "type": "string"}]}'
        ), compatibility="BACKWARD")
    # FORWARD violation: the OLD readers (id 2) cannot read data
    # missing their non-defaulted uid? uid has no default in v2 —
    # dropping uid from the new writer breaks FORWARD
    with pytest.raises(A.AvroSchemaError, match="FORWARD"):
        reg.add(3, (
            '{"type": "record", "name": "m", "fields": ['
            '{"name": "tag", "type": "string", "default": "none"}]}'
        ), compatibility="FORWARD")
    # NONE: anything goes, duplicate ids still rejected
    reg.add(3, '{"type": "record", "name": "q", "fields": []}',
            compatibility="NONE")
    with pytest.raises(A.AvroSchemaError, match="already"):
        reg.add(3, v1, compatibility="NONE")
    # TRANSITIVE checks all retained versions, not just the latest:
    # id 3 (empty record) is the latest; BACKWARD alone passes against
    # it, BACKWARD_TRANSITIVE must still flag v1's uid narrowing
    reg2 = A.SchemaRegistry({1: (
        '{"type": "record", "name": "m", "fields": ['
        '{"name": "x", "type": "long"}]}'
    ), 2: '{"type": "record", "name": "m", "fields": []}'})
    narrowing = (
        '{"type": "record", "name": "m", "fields": ['
        '{"name": "x", "type": ["null", "int"], "default": null}]}'
    )
    reg2.add(4, narrowing, compatibility="BACKWARD")  # vs id 2 only: ok
    reg3 = A.SchemaRegistry({1: (
        '{"type": "record", "name": "m", "fields": ['
        '{"name": "x", "type": "long"}]}'
    ), 2: '{"type": "record", "name": "m", "fields": []}'})
    with pytest.raises(A.AvroSchemaError, match="BACKWARD vs id 1"):
        reg3.add(4, narrowing, compatibility="BACKWARD_TRANSITIVE")


def test_refreshing_registry_fetch_on_miss_and_signature_gate(tmp_path):
    """RefreshingSchemaRegistry resolves a schema id registered AFTER
    the snapshot was first loaded (fetch-on-miss reload — the live
    registry-client protocol). Misses are gated by the snapshot file's
    SIGNATURE (inode/mtime/size): an unchanged file means a definitive
    miss with no reload, and a CHANGED file invalidates the miss — so a
    mid-task registration becomes visible to the SAME instance (ADVICE
    r11 #5: the old per-instance negative cache never invalidated and
    permanently dropped such frames for the task's lifetime)."""
    import json

    from presto_rakam_kafka_spark.sources import avro_codec as ac

    v1 = ('{"type": "record", "name": "r", "fields": '
          '[{"name": "a", "type": "long"}]}')
    v2 = ('{"type": "record", "name": "r2", "fields": '
          '[{"name": "a", "type": "long"},'
          ' {"name": "b", "type": "string"}]}')
    path = str(tmp_path / "registry.json")

    def publish(snapshot: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(snapshot, fh)
        os.replace(tmp, path)  # new inode → new signature, atomically

    publish({"3": v1})
    reg = ac.RefreshingSchemaRegistry(path)
    assert reg.writer(3)["name"] == "r"

    # id 9 not registered yet: a miss
    import pytest as _pytest

    with _pytest.raises(ac.AvroDecodeError):
        reg.writer(9)

    # producer registers v9 mid-stream: the SAME instance resolves it
    # on its next miss (the signature changed, so the miss re-fetches)
    publish({"3": v1, "9": v2})
    assert reg.writer(9)["name"] == "r2"

    # a fresh instance resolves it too, of course
    fresh = ac.RefreshingSchemaRegistry(path)
    assert fresh.writer(9)["name"] == "r2"


def test_refreshing_registry_garbage_ids_bounded_reloads(tmp_path):
    """VERDICT r11 #3 hardening: a corrupt stream fabricating MANY
    distinct unknown ids must not force one snapshot re-read each —
    with the file unchanged, every miss is answered by one os.stat and
    ZERO reloads, while a genuinely new id still resolves the moment
    the file changes."""
    import json

    import pytest as _pytest

    from presto_rakam_kafka_spark.sources import avro_codec as ac

    v1 = ('{"type": "record", "name": "r", "fields": '
          '[{"name": "a", "type": "long"}]}')
    path = str(tmp_path / "registry.json")
    with open(path, "w") as fh:
        json.dump({"3": v1}, fh)

    reg = ac.RefreshingSchemaRegistry(path)
    assert reg.writer(3)["name"] == "r"

    loads = []
    orig_load = reg._load

    def counting_load():
        loads.append(1)
        return orig_load()

    reg._load = counting_load
    for garbage_id in range(100, 200):  # 100 DISTINCT garbage ids
        with _pytest.raises(ac.AvroDecodeError):
            reg.writer(garbage_id)
    assert len(loads) == 0, f"{len(loads)} reloads for garbage ids"

    # a real registration after the garbage storm still resolves
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"3": v1, "150": v1}, fh)
    os.replace(tmp, path)
    assert reg.writer(150)["name"] == "r"
    assert len(loads) == 1  # exactly one reload: the changed snapshot


def test_refreshing_registry_corrupt_version_reloads_once(tmp_path):
    """ADVICE r12 #1: a snapshot version that changed but stays
    unreadable/garbled must be re-read at most ONCE — without the
    bad-signature cache, every subsequent unknown-id record re-read and
    re-parsed the full corrupt file, the unbounded-reload cost the
    signature gate claims to bound. Publishing a GOOD version after
    the corruption resolves normally."""
    import json

    import pytest as _pytest

    from presto_rakam_kafka_spark.sources import avro_codec as ac

    v1 = ('{"type": "record", "name": "r", "fields": '
          '[{"name": "a", "type": "long"}]}')
    path = str(tmp_path / "registry.json")

    def publish(content: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(content)
        os.replace(tmp, path)

    publish(json.dumps({"3": v1}))
    reg = ac.RefreshingSchemaRegistry(path)
    assert reg.writer(3)["name"] == "r"

    publish("{ this is not json — a non-atomic producer's torn write")
    loads = []
    orig_load = reg._load

    def counting_load():
        loads.append(1)
        return orig_load()

    reg._load = counting_load
    for garbage_id in range(100, 150):
        with _pytest.raises(ac.AvroDecodeError):
            reg.writer(garbage_id)
        assert reg.writer(3)["name"] == "r"  # old snapshot keeps serving
    assert len(loads) == 1, f"{len(loads)} reloads for one corrupt version"

    # the producer republishes atomically: the changed signature
    # invalidates the bad-sig gate and the new id resolves
    publish(json.dumps({"3": v1, "9": v1}))
    assert reg.writer(9)["name"] == "r"
    assert len(loads) == 2


def test_refreshing_registry_transient_oserror_recovers(tmp_path, monkeypatch):
    """Round-13 second review: a TRANSIENT I/O error during a reload
    must not poison the file's signature — content failures are
    deterministic per version (cacheable), I/O blips are not. The next
    miss retries the read and resolves."""
    import builtins
    import json

    import pytest as _pytest

    from presto_rakam_kafka_spark.sources import avro_codec as ac

    v1 = ('{"type": "record", "name": "r", "fields": '
          '[{"name": "a", "type": "long"}]}')
    path = str(tmp_path / "registry.json")
    with open(path, "w") as fh:
        json.dump({"3": v1}, fh)
    reg = ac.RefreshingSchemaRegistry(path)
    assert reg.writer(3)["name"] == "r"

    # producer registers id 9; the first reload attempt hits an I/O blip
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"3": v1, "9": v1}, fh)
    os.replace(tmp, path)
    real_open = builtins.open
    blips = {"n": 0}

    def flaky_open(f, *a, **k):
        if f == path and blips["n"] == 0:
            blips["n"] += 1
            raise OSError("transient NFS blip")
        return real_open(f, *a, **k)

    monkeypatch.setattr(builtins, "open", flaky_open)
    with _pytest.raises(ac.AvroDecodeError):
        reg.writer(9)  # the blip: old snapshot keeps serving, miss raised
    assert reg.writer(9)["name"] == "r"  # next miss retries and resolves


def test_refreshing_registry_decodes_mid_stream_id_through_wire_plan(tmp_path):
    """compile_wire_read_plan over a RefreshingSchemaRegistry decodes a
    frame whose id landed in the snapshot after the plan was built."""
    import json

    from presto_rakam_kafka_spark.sources import avro_codec as ac

    v1 = ('{"type": "record", "name": "r", "fields": '
          '[{"name": "a", "type": "long"}]}')
    path = str(tmp_path / "registry.json")
    with open(path, "w") as fh:
        json.dump({"3": v1}, fh)
    reader = v1
    plan = ac.compile_wire_read_plan(ac.RefreshingSchemaRegistry(path), reader)
    assert plan(ac.wrap_confluent(3, ac.encode({"a": 7}, v1))) == {"a": 7}

    # register id 9 AFTER the plan exists; same plan decodes it
    with open(path, "w") as fh:
        json.dump({"3": v1, "9": v1}, fh)
    assert plan(ac.wrap_confluent(9, ac.encode({"a": 8}, v1))) == {"a": 8}


def test_refreshing_registry_torn_snapshot_degrades_to_miss(tmp_path):
    """An unreadable/torn snapshot (a producer rewriting it in place)
    must read as an A14-lane miss (AvroDecodeError), never escape as
    JSONDecodeError and kill the scan — and an instance holding a
    previous good snapshot keeps serving it."""
    import json

    import pytest as _pytest

    from presto_rakam_kafka_spark.sources import avro_codec as ac

    v1 = ('{"type": "record", "name": "r", "fields": '
          '[{"name": "a", "type": "long"}]}')
    path = str(tmp_path / "registry.json")
    with open(path, "w") as fh:
        json.dump({"3": v1}, fh)
    reg = ac.RefreshingSchemaRegistry(path)
    assert reg.writer(3)["name"] == "r"

    with open(path, "w") as fh:
        fh.write('{"3": trunc')  # torn mid-rewrite
    # known id keeps serving from the held snapshot
    assert reg.writer(3)["name"] == "r"
    # unknown id triggers a reload that fails -> miss, not JSONDecodeError
    with _pytest.raises(ac.AvroDecodeError):
        reg.writer(9)
    # a FRESH instance with no prior snapshot also reports a miss
    fresh = ac.RefreshingSchemaRegistry(path)
    with _pytest.raises(ac.AvroDecodeError):
        fresh.writer(3)


def test_refreshing_registry_missing_file_is_cheap_miss(tmp_path):
    """Round-12 review finding #5: with the snapshot FILE deleted, every
    unknown-id probe must stay a one-stat definitive miss (zero reload
    attempts) while known ids keep serving from the held snapshot; when
    the file reappears with a new id, the next miss resolves it."""
    import json

    import pytest as _pytest

    from presto_rakam_kafka_spark.sources import avro_codec as ac

    v1 = ('{"type": "record", "name": "r", "fields": '
          '[{"name": "a", "type": "long"}]}')
    path = str(tmp_path / "registry.json")
    with open(path, "w") as fh:
        json.dump({"3": v1}, fh)
    reg = ac.RefreshingSchemaRegistry(path)
    assert reg.writer(3)["name"] == "r"

    os.remove(path)
    loads = []
    orig_load = reg._load

    def counting_load():
        loads.append(1)
        return orig_load()

    reg._load = counting_load
    for gid in range(50, 80):
        with _pytest.raises(ac.AvroDecodeError):
            reg.writer(gid)
    assert reg.writer(3)["name"] == "r"  # held snapshot still serves
    assert len(loads) == 0, f"{len(loads)} reload attempts on a dead file"

    # the producer republishes with a new id: the next miss resolves
    with open(path, "w") as fh:
        json.dump({"3": v1, "60": v1}, fh)
    assert reg.writer(60)["name"] == "r"
    assert len(loads) == 1
