"""Round-3 connector parity: PubsubIO, HadoopInputFormatIO, ProtoCoder,
and the broker/GCP option builders (VERDICT r2 items 4, 5, 6, 10)."""

from __future__ import annotations

import base64
import struct
import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apache_beam_spark.functions.proto import (
    ProtoField,
    ProtoSchema,
    from_protobuf_col,
    proto_decode,
    proto_encode,
)
from apache_beam_spark.sources.connectors import (
    amqp_options,
    bigtable_options,
    datastore_options,
    jms_options,
    mqtt_options,
    read_amqp,
    read_datastore,
    read_jms,
    read_mqtt,
    spanner_options,
)
from apache_beam_spark.sources.hadoop import (
    read_hadoop_input_format,
    read_sequence_file,
    write_sequence_file,
)
from apache_beam_spark.streaming.pubsub import (
    PubsubSubscription,
    PubsubTopic,
    deduplicate_by_id,
    message_schema,
    read_pubsub,
    to_pubsub_messages,
    with_event_timestamps,
)
from apache_beam_spark.streaming.sources import read_bounded

# ------------------------------------------------------------------- pubsub


def test_pubsub_path_parsing():
    t = PubsubTopic.from_path("projects/my-project/topics/events-a")
    assert (t.project, t.topic) == ("my-project", "events-a")
    assert t.as_path() == "projects/my-project/topics/events-a"
    s = PubsubSubscription.from_path("projects/my-project/subscriptions/s_1")
    assert s.subscription == "s_1"
    # deprecated v1beta1 spellings still parse (PubsubIO.java:204,364)
    assert PubsubTopic.from_path("/topics/my-project/t.x").topic == "t.x"
    assert PubsubSubscription.from_path(
        "/subscriptions/my-project/sub").subscription == "sub"


@pytest.mark.parametrize("bad", [
    "topics/my-project/x",                       # malformed path
    "projects/my-project/topics/googbad",        # goog prefix
    "projects/my-project/topics/ab",             # too short
    "projects/my-project/topics/1abc",           # must begin with letter
    "projects/P/topics/abc",                     # bad project id
    "projects/my-project/topics/" + "a" * 256,   # too long
])
def test_pubsub_path_validation_rejects(bad):
    with pytest.raises(ValueError):
        PubsubTopic.from_path(bad)


def _spool_messages(tmp_path, rows):
    p = os.path.join(str(tmp_path), "msgs")
    os.makedirs(p, exist_ok=True)
    with open(os.path.join(p, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return p


def _msg(mid, ets=None, publish="2024-01-01T00:00:00Z", payload=b"x", **attrs):
    if ets is not None:
        attrs["ets"] = ets
    return {"payload": base64.b64encode(payload).decode(),
            "attributes": attrs, "message_id": mid, "publish_ts": publish}


def test_pubsub_timestamp_attribute_ms_and_rfc3339(spark, tmp_path):
    rows = [_msg("m1", ets="1700000000000"),
            _msg("m2", ets="2024-01-02T03:04:05.678Z")]
    df = spark.read.schema(message_schema()).json(_spool_messages(tmp_path, rows))
    out = {r["message_id"]: r["event_ts"]
           for r in with_event_timestamps(df, "ets").collect()}
    assert out["m1"].timestamp() == 1700000000.0
    assert out["m2"].isoformat().startswith("2024-01-02T03:04:05.678")


def test_pubsub_rfc3339_any_fraction_and_offset(spark, tmp_path):
    """Instant.parse tolerance (PubsubClient.java:96): RFC-3339 with
    0-9 fractional digits and Z or numeric offsets all parse; a
    zone-less or garbage value still fails the query."""
    rows = [_msg("m0", ets="2024-01-02T03:04:05Z"),                # 0 digits
            _msg("m1", ets="2024-01-02T03:04:05.6Z"),              # 1 digit
            _msg("m6", ets="2024-01-02T03:04:05.678901Z"),         # 6 digits
            _msg("m9", ets="2024-01-02T03:04:05.678901234Z"),      # 9 digits
            _msg("moff", ets="2024-01-02T03:04:05.5+05:30"),       # offset
            _msg("mlc", ets="2024-01-02t03:04:05.6z")]     # lowercase t/z
    df = spark.read.schema(message_schema()).json(
        _spool_messages(tmp_path, rows))
    out = {r["message_id"]: r["event_ts"]
           for r in with_event_timestamps(df, "ets").collect()}
    base = out["m0"].timestamp()
    assert abs(out["m1"].timestamp() - (base + 0.6)) < 1e-6
    assert abs(out["m6"].timestamp() - (base + 0.678901)) < 1e-6
    # 9 digits: truncated to Spark's microsecond precision
    assert abs(out["m9"].timestamp() - (base + 0.678901)) < 1e-6
    # +05:30 means 05:30 earlier than the same wall-clock at Z
    assert abs(out["moff"].timestamp() - (base + 0.5 - 5.5 * 3600)) < 1e-6
    # ISO_INSTANT parses the T/Z designators case-insensitively
    assert abs(out["mlc"].timestamp() - (base + 0.6)) < 1e-6
    for bad in ["2024-01-02T03:04:05.678", "not-a-time"]:  # no zone / junk
        dfb = spark.read.schema(message_schema()).json(
            _spool_messages(tmp_path / ("b" + bad[:4]), [_msg("x", ets=bad)]))
        with pytest.raises(Exception, match="Cannot interpret"):
            with_event_timestamps(dfb, "ets").collect()


def test_pubsub_timestamp_attribute_missing_fails(spark, tmp_path):
    df = spark.read.schema(message_schema()).json(
        _spool_messages(tmp_path, [_msg("m1")]))  # no ets attribute
    with pytest.raises(Exception, match="Cannot interpret"):
        with_event_timestamps(df, "ets").collect()


def test_pubsub_publish_time_default(spark, tmp_path):
    df = spark.read.schema(message_schema()).json(
        _spool_messages(tmp_path, [_msg("m1")]))
    row = with_event_timestamps(df).first()
    assert row["event_ts"] == row["publish_ts"]


def test_pubsub_id_attribute_dedup_streaming(spark, tmp_path):
    rows = [_msg("m1", ets="1700000000000", dedup="a"),
            _msg("m2", ets="1700000001000", dedup="a"),   # duplicate id
            _msg("m3", ets="1700000002000", dedup="b")]
    spool = _spool_messages(tmp_path, rows)
    sdf = read_pubsub(spark,
                      subscription="projects/my-project/subscriptions/sub",
                      timestamp_attribute="ets", id_attribute="dedup",
                      emulation_spool=spool)
    got = read_bounded(sdf)
    ids = {r["attributes"]["dedup"] for r in got.collect()}
    assert got.count() == 2 and ids == {"a", "b"}


def test_pubsub_exclusivity_and_gate(spark):
    with pytest.raises(ValueError, match="exactly one"):
        read_pubsub(spark)
    with pytest.raises(NotImplementedError, match="Kafka"):
        read_pubsub(spark, topic="projects/my-project/topics/events")


def test_pubsub_write_shape(spark):
    df = spark.createDataFrame(
        [("p1", "d1", "2024-01-01 00:00:00")], "v string, dev string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = to_pubsub_messages(df, "v", ["dev"],
                             timestamp_attribute="ets", event_time="ts").first()
    assert bytes(out["payload"]) == b"p1"
    assert out["attributes"]["dev"] == "d1"
    assert out["attributes"]["ets"] == "1704067200000"


# ----------------------------------------------------------- hadoop formats


def test_sequence_file_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"k{i:03d}", f"v{i}") for i in range(200)], "key string, value string")
    path = os.path.join(str(tmp_path), "seq")
    write_sequence_file(df, path)
    back = read_sequence_file(spark, path)
    assert back.count() == 200
    assert back.orderBy("key").first()["value"] == "v0"


def test_hadoop_input_format_with_translation(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(50)], "key string, value string")
    path = os.path.join(str(tmp_path), "seq2")
    write_sequence_file(df, path)
    conf = {
        "mapreduce.job.inputformat.class":
            "org.apache.hadoop.mapreduce.lib.input.SequenceFileInputFormat",
        "key.class": "org.apache.hadoop.io.Text",
        "value.class": "org.apache.hadoop.io.Text",
        "mapreduce.input.fileinputformat.inputdir": path,
    }
    out = read_hadoop_input_format(
        spark, conf, value_translation=lambda v: v.upper())
    rows = {r["key"]: r["value"] for r in out.collect()}
    assert len(rows) == 50 and rows["k7"] == "V7"


def test_hadoop_input_format_validates_conf(spark):
    with pytest.raises(ValueError, match="inputformat"):
        read_hadoop_input_format(spark, {"key.class": "x", "value.class": "y"})


# ------------------------------------------------------------------ protobuf

_SCHEMA = ProtoSchema([
    ProtoField(1, "id", "int64"),
    ProtoField(2, "name", "string"),
    ProtoField(3, "score", "double"),
    ProtoField(4, "flag", "bool"),
    ProtoField(5, "tags", "string", repeated=True),
    ProtoField(6, "delta", "sint64"),
    ProtoField(7, "blob", "bytes"),
])


def test_proto_known_wire_vector():
    # canonical example from the protobuf encoding guide: field 1
    # varint 150 encodes as 08 96 01
    s = ProtoSchema([ProtoField(1, "a", "int32")])
    assert s.encode({"a": 150}) == bytes([0x08, 0x96, 0x01])
    assert s.decode(bytes([0x08, 0x96, 0x01])) == {"a": 150}


@settings(max_examples=200, deadline=None)
@given(st.fixed_dictionaries({
    "id": st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
    "name": st.text(max_size=40),
    "score": st.floats(allow_nan=False, width=64),
    "flag": st.booleans(),
    "tags": st.lists(st.text(max_size=8), max_size=5),
    "delta": st.integers(min_value=-(2 ** 62), max_value=2 ** 62),
    "blob": st.binary(max_size=32),
}))
def test_proto_round_trip_property(msg):
    assert _SCHEMA.decode(_SCHEMA.encode(msg)) == msg


def test_proto_packed_repeated_scalars_decode():
    """Packed is the proto3 DEFAULT for repeated numerics; parseFrom
    accepts packed and unpacked interchangeably — so must decode."""
    s = ProtoSchema([
        ProtoField(1, "nums", "int32", repeated=True),
        ProtoField(2, "deltas", "sint64", repeated=True),
        ProtoField(3, "vals", "double", repeated=True),
        ProtoField(4, "f32s", "fixed32", repeated=True),
    ])
    # canonical encoding-guide packed example: field 4 (here num 1),
    # values [3, 270, 86942] -> 0A 06 03 8E 02 9E A7 05
    assert s.decode(bytes([0x0A, 0x06, 0x03, 0x8E, 0x02,
                           0x9E, 0xA7, 0x05]))["nums"] == [3, 270, 86942]
    # packed zigzag: sint64 [-1, 1] -> payload 01 02
    assert s.decode(bytes([0x12, 0x02, 0x01, 0x02]))["deltas"] == [-1, 1]
    # packed fixed64 doubles
    import struct as _struct
    payload = _struct.pack("<2d", 1.5, -2.25)
    assert s.decode(bytes([0x1A, 16]) + payload)["vals"] == [1.5, -2.25]
    # packed fixed32
    payload = _struct.pack("<2I", 7, 8)
    assert s.decode(bytes([0x22, 8]) + payload)["f32s"] == [7, 8]
    # truncated packed fixed payload raises the clean parse error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="truncated packed"):
        s.decode(bytes([0x22, 3, 0, 0, 0]))
    # mixed packed + unpacked records concatenate (parseFrom semantics)
    mixed = bytes([0x08, 0x05]) + bytes([0x0A, 0x03, 0x03, 0x8E, 0x02])
    assert s.decode(mixed)["nums"] == [5, 3, 270]


def test_proto_unknown_field_skipped():
    ext = ProtoSchema(list(_SCHEMA.fields) + [ProtoField(99, "x", "string")])
    data = ext.encode({"id": 1, "x": "future"})
    assert _SCHEMA.decode(data)["id"] == 1


def test_proto_columns_round_trip(spark):
    df = spark.createDataFrame(
        [(i, f"n{i}", i * 1.5, i % 2 == 0) for i in range(100)],
        "id long, name string, score double, flag boolean")
    schema = ProtoSchema([
        ProtoField(1, "id", "int64"), ProtoField(2, "name", "string"),
        ProtoField(3, "score", "double"), ProtoField(4, "flag", "bool")])
    enc = proto_encode(df, schema, keep=[])
    dec = proto_decode(enc, schema).drop("proto")
    assert dec.exceptAll(df).count() == 0 and df.exceptAll(dec).count() == 0


def test_proto_jvm_path_gated(spark):
    with pytest.raises(NotImplementedError, match="spark-protobuf"):
        df = spark.range(1).select(
            F.encode(F.col("id").cast("string"), "utf-8").alias("b"))
        df.select(from_protobuf_col(F.col("b"), "M", "/no/desc")).collect()


# ------------------------------------------------------- option builders


def test_jms_options():
    o = jms_options("tcp://broker:61616", queue="orders", username="u")
    assert o["destinationType"] == "queue" and o["destination"] == "orders"
    assert jms_options("tcp://b", topic="t")["destinationType"] == "topic"
    with pytest.raises(ValueError, match="exactly one"):
        jms_options("tcp://b")
    with pytest.raises(ValueError, match="exactly one"):
        jms_options("tcp://b", queue="q", topic="t")


def test_mqtt_amqp_options():
    o = mqtt_options("tcp://host:1883", "sensors/#", client_id="c1", qos=1)
    assert o == {"brokerUrl": "tcp://host:1883", "topic": "sensors/#",
                 "QoS": "1", "clientId": "c1"}
    with pytest.raises(ValueError):
        mqtt_options("", "t")
    assert amqp_options(["amqp://h:5672"])["addresses"] == "amqp://h:5672"
    with pytest.raises(ValueError):
        amqp_options([])


def test_gcp_store_options():
    o = bigtable_options("p", "i", "t", key_range=("a", "z"), row_filter="f")
    assert o["spark.bigtable.read.rows.range.start"] == "a"
    assert spanner_options("p", "i", "d", table="t")["table"] == "t"
    with pytest.raises(ValueError, match="exactly one"):
        spanner_options("p", "i", "d")
    assert datastore_options("p", kind="User")["kind"] == "User"
    with pytest.raises(ValueError, match="exactly one"):
        datastore_options("p", kind="User", gql_query="select *")


def test_broker_loaders_raise_with_route(spark):
    with pytest.raises(NotImplementedError, match="Kafka"):
        read_jms(spark, "tcp://b", queue="q")
    with pytest.raises(NotImplementedError, match="bahir|Kafka"):
        read_mqtt(spark, "tcp://h", "t")
    with pytest.raises(NotImplementedError, match="Kafka"):
        read_amqp(spark, ["amqp://h"])
    with pytest.raises(NotImplementedError, match="export"):
        read_datastore(spark, "p", kind="User")


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=64))
def test_proto_decoder_total_on_garbage(data):
    """decode() must terminate with a value or a clean error on ANY
    byte string — never hang or crash the interpreter (parseFrom's
    malformed-input contract)."""
    try:
        msg = _SCHEMA.decode(data)
        assert isinstance(msg, dict)
    except ValueError:
        pass  # the ONLY acceptable failure mode


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_proto_decode_prefix_of_valid_never_hangs(data):
    """Truncations of a valid message also terminate cleanly."""
    valid = _SCHEMA.encode({"id": 7, "name": "x" * 20, "tags": ["a", "b"]})
    for cut in (1, len(valid) // 2, len(valid) - 1):
        try:
            _SCHEMA.decode(valid[:cut] + data[:4])
        except ValueError:
            pass
