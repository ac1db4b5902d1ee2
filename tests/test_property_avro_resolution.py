"""Property tests for Avro schema resolution (avro_codec round 4).

Invariants, over randomized records of a fixed mixed-type schema:
1. IDENTITY: resolving with reader == writer equals the plain decode.
2. PROMOTION: a fully-promoted reader (int->long->double, string<->bytes)
   yields exactly the promoted values.
3. EVOLUTION ROUNDTRIP: add-with-default + drop keeps every surviving
   field's value and fills every added field with its default, for any
   record content.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_etl_consumer_spark.avro_codec import (
    decode_record,
    decode_record_resolved,
    encode_record,
    parse_schema,
)

_WRITER_JSON = """{
  "type": "record", "name": "Evt", "fields": [
    {"name": "i", "type": "int"},
    {"name": "l", "type": "long"},
    {"name": "f", "type": "float"},
    {"name": "s", "type": "string"},
    {"name": "b", "type": "bytes"},
    {"name": "u", "type": ["null", "int"]},
    {"name": "u3", "type": ["null", "int", "string"]},
    {"name": "ub", "type": ["null", "string", "bytes"]},
    {"name": "arr", "type": {"type": "array", "items": "int"}},
    {"name": "m", "type": {"type": "map", "values": "string"}},
    {"name": "sub", "type": {"type": "record", "name": "Sub",
      "fields": [{"name": "x", "type": "int"},
                 {"name": "y", "type": ["null", "string"]}]}}]}"""

WRITER = parse_schema(_WRITER_JSON)

_records = st.fixed_dictionaries(
    {
        "i": st.integers(-(2**31), 2**31 - 1),
        "l": st.integers(-(2**63), 2**63 - 1),
        "f": st.floats(width=32, allow_nan=False),
        "s": st.text(max_size=20),
        "b": st.binary(max_size=20),
        "u": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
        "u3": st.one_of(
            st.none(),
            st.integers(-(2**31), 2**31 - 1).map(lambda v: {"member0": v, "member1": None}),
            st.text(max_size=8).map(lambda v: {"member0": None, "member1": v}),
        ),
        "ub": st.one_of(
            st.none(),
            st.text(max_size=8).map(lambda v: {"member0": v, "member1": None}),
            st.binary(max_size=8).map(lambda v: {"member0": None, "member1": v}),
        ),
        "arr": st.lists(st.integers(-(2**31), 2**31 - 1), max_size=5),
        "m": st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=4),
        "sub": st.fixed_dictionaries(
            {"x": st.integers(-(2**31), 2**31 - 1),
             "y": st.one_of(st.none(), st.text(max_size=8))}
        ),
    }
)


@settings(max_examples=200, deadline=None)
@given(_records)
def test_resolution_identity(rec):
    payload = encode_record(WRITER, rec)
    assert decode_record_resolved(WRITER, WRITER, payload) == decode_record(
        WRITER, payload
    )


_PROMOTED = parse_schema("""{
  "type": "record", "name": "Evt", "fields": [
    {"name": "i", "type": "double"},
    {"name": "l", "type": "double"},
    {"name": "f", "type": "double"},
    {"name": "s", "type": "bytes"},
    {"name": "b", "type": "string"},
    {"name": "u", "type": ["null", "long"]},
    {"name": "arr", "type": {"type": "array", "items": "long"}},
    {"name": "m", "type": {"type": "map", "values": "bytes"}},
    {"name": "sub", "type": {"type": "record", "name": "Sub",
      "fields": [{"name": "x", "type": "long"},
                 {"name": "y", "type": ["null", "bytes"]}]}}]}""")


@settings(max_examples=200, deadline=None)
@given(_records)
def test_resolution_full_promotion(rec):
    # bytes->string requires utf-8-decodable bytes; re-encode b from text
    rec = dict(rec, b=rec["s"].encode("utf-8"))
    payload = encode_record(WRITER, rec)
    got = decode_record_resolved(WRITER, _PROMOTED, payload)
    assert got == {
        "i": float(rec["i"]),
        "l": float(rec["l"]),
        "f": float(rec["f"]),
        "s": rec["s"].encode("utf-8"),
        "b": rec["s"],
        "u": rec["u"],
        "arr": [int(x) for x in rec["arr"]],
        "m": {k: v.encode("utf-8") for k, v in rec["m"].items()},
        "sub": {
            "x": rec["sub"]["x"],
            "y": None if rec["sub"]["y"] is None else rec["sub"]["y"].encode("utf-8"),
        },
    }


_EVOLVED = parse_schema("""{
  "type": "record", "name": "Evt", "fields": [
    {"name": "l", "type": "long"},
    {"name": "s", "type": "string"},
    {"name": "added_d", "type": "double", "default": 2.5},
    {"name": "added_u", "type": ["null", "string"], "default": null},
    {"name": "sub", "type": {"type": "record", "name": "Sub",
      "fields": [{"name": "x", "type": "int"},
                 {"name": "y", "type": ["null", "string"]},
                 {"name": "z", "type": "int", "default": 9}]}}]}""")


@settings(max_examples=200, deadline=None)
@given(_records)
def test_resolution_add_drop_any_content(rec):
    payload = encode_record(WRITER, rec)
    got = decode_record_resolved(WRITER, _EVOLVED, payload)
    assert got == {
        "l": rec["l"],
        "s": rec["s"],
        "added_d": 2.5,
        "added_u": None,
        "sub": {"x": rec["sub"]["x"], "y": rec["sub"]["y"], "z": 9},
    }
