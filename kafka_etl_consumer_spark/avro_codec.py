"""Pure-Python Avro binary codec + Avro⇄Spark schema translation.

Why this exists: the reference decodes raw binary-Avro Kafka payloads (no
Confluent magic byte — a bare ``binaryDecoder`` over the whole message,
AbstractAvroDeserializeService.java:46-60 in the reference). Spark's own
``from_avro`` lives in the external ``spark-avro`` jar, which is not part of
a stock PySpark install; this module provides the same semantics with zero
JVM dependencies. ``decode_avro`` (streaming/ingest.py) prefers the JVM
path when the jar is present and falls back to this codec via an
Arrow-batched ``mapInPandas`` otherwise.

Decoding is one compiler, :func:`compile_decoder`: it walks a (writer,
reader) pair of schema trees once and returns a tree of closures, so plain
decoding (reader = writer), Avro schema resolution and OCF blocks share one
code path; a reader union takes Avro's best branch (exact type/name match,
else a promotion).

Supported: the full Avro 1.x type lattice the reference's registry can feed
it — null, boolean, int, long, float, double, bytes, string, record (incl.
nested + named references), enum, array, map, union, fixed — plus the
standard logical types with the same Spark mapping the JVM ``from_avro``
uses (SchemaConverters semantics): ``date`` → DateType,
``timestamp-millis``/``timestamp-micros`` → TimestampType (session-tz;
this repo pins ``spark.sql.session.timeZone=UTC``, session.py),
``local-timestamp-*`` → TimestampNTZType, ``decimal`` on bytes/fixed →
DecimalType(precision, scale); ``uuid``/``time-*`` pass through as their
base type. (The reference itself carries epoch-millis as plain long —
item-view-event.avsc:18-23; FIXTURES.md §A — so logical types only appear
when users bring richer schemas.)

Multi-branch non-null unions follow spark-avro: ``[int, long]`` widens to
LongType, ``[float, double]`` to DoubleType, and any other non-null
multi-branch union becomes a struct of nullable ``member0..memberN-1``
fields (one per non-null branch, exactly one set per value), with or
without a reader schema. The reference would throw on any schema it didn't
expect (AbstractAvroDeserializeService.java:56-59); we fail fast only on
shapes Spark cannot type (recursive records) and reader schemas that can
never resolve.
"""

from __future__ import annotations

import copy
import datetime as dt
import decimal
import functools
import io
import json
import struct
from typing import Any, Callable, Iterator

from pyspark.sql import types as T

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}

# logical types we materialize (anything else passes through as base type)
_LOGICALS = {
    "date",
    "timestamp-millis",
    "timestamp-micros",
    "local-timestamp-millis",
    "local-timestamp-micros",
    "decimal",
}
_EPOCH_DATE = dt.date(1970, 1, 1)
_EPOCH_DT = dt.datetime(1970, 1, 1)


# ---------------------------------------------------------------------------
# Schema parsing (avsc JSON → resolved dict tree with named-type references)
# ---------------------------------------------------------------------------


def parse_schema(avsc: str | dict) -> dict:
    """Parse an .avsc JSON string into a resolved schema tree.

    Named types (record/enum/fixed) referenced by name are replaced with
    their definitions so the codec never needs a registry at decode time.
    """
    raw = json.loads(avsc) if isinstance(avsc, str) else avsc
    named: dict[str, dict] = {}

    def resolve(node: Any, namespace: str | None) -> Any:
        if isinstance(node, str):
            if node in _PRIMITIVES:
                return node
            full = node if "." in node else (f"{namespace}.{node}" if namespace else node)
            if full in named:
                return named[full]
            if node in named:
                return named[node]
            raise ValueError(f"unknown Avro type reference: {node!r}")
        if isinstance(node, list):  # union
            return [resolve(b, namespace) for b in node]
        if not isinstance(node, dict):
            raise ValueError(f"malformed Avro schema node: {node!r}")
        t = node.get("type")
        if t in ("record", "error"):
            ns = node.get("namespace", namespace)
            full = f"{ns}.{node['name']}" if ns else node["name"]
            out = {"type": "record", "name": full, "fields": []}
            named[full] = out
            named.setdefault(node["name"], out)
            for f in node["fields"]:
                rf = {"name": f["name"], "type": resolve(f["type"], ns)}
                if "default" in f:  # kept for reader-side schema resolution
                    rf["default"] = f["default"]
                out["fields"].append(rf)
            return out
        if t == "enum":
            ns = node.get("namespace", namespace)
            full = f"{ns}.{node['name']}" if ns else node["name"]
            out = {"type": "enum", "name": full, "symbols": list(node["symbols"])}
            if "default" in node:  # Avro 1.9+ enum fallback symbol
                out["default"] = node["default"]
            named[full] = out
            named.setdefault(node["name"], out)
            return out
        if t == "fixed":
            ns = node.get("namespace", namespace)
            full = f"{ns}.{node['name']}" if ns else node["name"]
            out = {"type": "fixed", "name": full, "size": int(node["size"])}
            if node.get("logicalType") == "decimal":
                out["logicalType"] = "decimal"
                out["precision"] = int(node["precision"])
                out["scale"] = int(node.get("scale", 0))
            named[full] = out
            named.setdefault(node["name"], out)
            return out
        if t == "array":
            return {"type": "array", "items": resolve(node["items"], namespace)}
        if t == "map":
            return {"type": "map", "values": resolve(node["values"], namespace)}
        if t in _PRIMITIVES:
            lt = node.get("logicalType")
            if lt in _LOGICALS:  # keep the annotation; else → base type
                out = {"type": t, "logicalType": lt}
                if lt == "decimal":
                    out["precision"] = int(node["precision"])
                    out["scale"] = int(node.get("scale", 0))
                return out
            return t
        return resolve(t, namespace)

    return resolve(raw, None)


def _type_name(schema: Any) -> str:
    return schema if isinstance(schema, str) else ("union" if isinstance(schema, list) else schema["type"])


# ---------------------------------------------------------------------------
# Avro → Spark schema
# ---------------------------------------------------------------------------

_AVRO_TO_SPARK = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def to_spark_type(schema: Any, _visiting: frozenset[str] = frozenset()) -> tuple[T.DataType, bool]:
    """Resolved Avro schema → (Spark DataType, nullable).

    ``["null", X]`` unions become nullable X — exactly what the JVM
    ``from_avro`` does for the reference's all-nullable-fields schema
    (FIXTURES.md §A). Multi-branch unions follow spark-avro
    SchemaConverters: [int,long]→LongType, [float,double]→DoubleType,
    anything else → struct of nullable member0..memberN-1. Recursive
    records are legal Avro but have no Spark representation → ValueError
    (fail fast)."""
    if isinstance(schema, str):
        return _AVRO_TO_SPARK[schema], schema == "null"
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        nullable = len(non_null) < len(schema)
        if len(non_null) == 1:
            dtype, _ = to_spark_type(non_null[0], _visiting)
            return dtype, nullable
        names = {_type_name(b) for b in non_null}
        if names == {"int", "long"}:
            return T.LongType(), nullable
        if names == {"float", "double"}:
            return T.DoubleType(), nullable
        fields = [
            T.StructField(f"member{i}", to_spark_type(b, _visiting)[0], True)
            for i, b in enumerate(non_null)
        ]
        return T.StructType(fields), nullable
    t = schema["type"]
    if t == "record":
        if schema["name"] in _visiting:
            raise ValueError(
                f"recursive Avro record {schema['name']!r} has no Spark equivalent"
            )
        inner = _visiting | {schema["name"]}
        fields = []
        for f in schema["fields"]:
            dt, nullable = to_spark_type(f["type"], inner)
            fields.append(T.StructField(f["name"], dt, nullable))
        return T.StructType(fields), False
    if t == "enum":
        return T.StringType(), False
    if t == "fixed":
        if schema.get("logicalType") == "decimal":
            return T.DecimalType(schema["precision"], schema["scale"]), False
        return T.BinaryType(), False
    if t in _PRIMITIVES:  # logical-typed primitive node
        lt = schema.get("logicalType")
        if lt == "date":
            return T.DateType(), False
        if lt in ("timestamp-millis", "timestamp-micros"):
            return T.TimestampType(), False
        if lt in ("local-timestamp-millis", "local-timestamp-micros"):
            return T.TimestampNTZType(), False
        if lt == "decimal":
            return T.DecimalType(schema["precision"], schema["scale"]), False
        return _AVRO_TO_SPARK[t], t == "null"
    if t == "array":
        dt, nullable = to_spark_type(schema["items"], _visiting)
        return T.ArrayType(dt, containsNull=nullable), False
    if t == "map":
        dt, nullable = to_spark_type(schema["values"], _visiting)
        return T.MapType(T.StringType(), dt, valueContainsNull=nullable), False
    raise ValueError(f"unsupported Avro type: {t!r}")


def to_spark_struct(avsc: str | dict) -> T.StructType:
    dt, _ = to_spark_type(parse_schema(avsc))
    if not isinstance(dt, T.StructType):
        raise ValueError("top-level Avro schema must be a record")
    return dt


# ---------------------------------------------------------------------------
# Spark → Avro schema (for the to_avro test-fixture path, reference P1)
# ---------------------------------------------------------------------------


def from_spark_struct(st: T.StructType, name: str = "Record", namespace: str = "engine") -> dict:
    def conv(dt: T.DataType, nullable: bool, path: str) -> Any:
        base: Any
        if isinstance(dt, T.BooleanType):
            base = "boolean"
        elif isinstance(dt, T.IntegerType):
            base = "int"
        elif isinstance(dt, T.LongType):
            base = "long"
        elif isinstance(dt, T.FloatType):
            base = "float"
        elif isinstance(dt, T.DoubleType):
            base = "double"
        elif isinstance(dt, T.BinaryType):
            base = "bytes"
        elif isinstance(dt, T.StringType):
            base = "string"
        elif isinstance(dt, T.ArrayType):
            base = {"type": "array", "items": conv(dt.elementType, dt.containsNull, path)}
        elif isinstance(dt, T.MapType):
            base = {"type": "map", "values": conv(dt.valueType, dt.valueContainsNull, path)}
        elif isinstance(dt, T.StructType):
            base = {
                "type": "record",
                "name": f"{path}_rec",
                "fields": [
                    {"name": f.name, "type": conv(f.dataType, f.nullable, f"{path}_{f.name}")}
                    for f in dt.fields
                ],
            }
        else:
            raise ValueError(f"unsupported Spark type for Avro: {dt}")
        return ["null", base] if nullable else base

    return {
        "type": "record",
        "name": name,
        "namespace": namespace,
        "fields": [
            {"name": f.name, "type": conv(f.dataType, f.nullable, f.name)} for f in st.fields
        ],
    }


# ---------------------------------------------------------------------------
# Binary decode (Avro spec: zigzag varints, length-prefixed, block arrays)
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read_long(self) -> int:
        b = self.buf
        pos = self.pos
        shift = 0
        acc = 0
        while True:
            byte = b[pos]
            pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        self.pos = pos
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def read_bytes(self) -> bytes:
        n = self.read_long()
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_fixed(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


Decoder = Callable[[_Reader], Any]


def _read_boolean(r: _Reader) -> bool:
    v = r.buf[r.pos] != 0
    r.pos += 1
    return v


def _read_ieee(fmt: str, size: int) -> Decoder:
    def read(r: _Reader) -> float:
        (v,) = struct.unpack_from(fmt, r.buf, r.pos)
        r.pos += size
        return v

    return read


def _read_string(r: _Reader) -> str:
    return r.read_bytes().decode("utf-8")


def _blocks(r: _Reader) -> Iterator[int]:
    """Item counts of an array's or map's blocks."""
    n = r.read_long()
    while n:
        if n < 0:  # block with byte-size prefix
            n = -n
            r.read_long()
        yield n
        n = r.read_long()


_READ_PRIMITIVE = {
    "null": lambda r: None,
    "boolean": _read_boolean,
    "int": _Reader.read_long,
    "long": _Reader.read_long,
    "float": _read_ieee("<f", 4),
    "double": _read_ieee("<d", 8),
    "bytes": _Reader.read_bytes,
    "string": _read_string,
}


def _from_logical(node: dict) -> Callable[[Any], Any]:
    """Base value → Python value for a logical-typed node. Timestamps come
    back tz-naive in UTC (the session tz this repo pins)."""
    lt = node["logicalType"]
    if lt == "date":
        return lambda v: _EPOCH_DATE + dt.timedelta(days=v)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        return lambda v: _EPOCH_DT + dt.timedelta(milliseconds=v)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        return lambda v: _EPOCH_DT + dt.timedelta(microseconds=v)
    scale = -node["scale"]  # decimal: two's-complement big-endian unscaled
    return lambda v: decimal.Decimal(int.from_bytes(v, "big", signed=True)).scaleb(scale)


def _to_base(node: dict, v: Any) -> Any:
    """Python value → base-typed value for encoding a logical primitive.
    Accepts either the logical Python type or an already-base value."""
    lt = node["logicalType"]
    if lt == "date":
        return (v - _EPOCH_DATE).days if isinstance(v, dt.date) else int(v)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        if isinstance(v, dt.datetime):
            return (v.replace(tzinfo=None) - _EPOCH_DT) // dt.timedelta(milliseconds=1)
        return int(v)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        if isinstance(v, dt.datetime):
            return (v.replace(tzinfo=None) - _EPOCH_DT) // dt.timedelta(microseconds=1)
        return int(v)
    if lt == "decimal":
        unscaled = int(decimal.Decimal(v).scaleb(node["scale"]).to_integral_value())
        size = node.get("size") or max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(size, "big", signed=True)
    return v


# ---------------------------------------------------------------------------
# The decoder compiler. Avro schema resolution (spec §"Schema Resolution"):
# data written with WRITER schema W is read as READER schema R, the
# rolling-upgrade contract the reference lacks (it pins one schema per
# topic, AbstractAvroDeserializeService.java:28-34). Each rule is settled
# once, at compile time: fields match by name (writer order drives the byte
# stream), writer-only fields are read and dropped, reader-only fields take
# their defaults, the promotion lattice applies (int→long/float/double,
# long→float/double, float→double, string⇄bytes), enum symbols map to the
# reader's (else its ``default``), and a reader union takes the best branch:
# the writer's own type (same name for named types), else the first it
# promotes to. Errors that depend on the data (a writer-union branch with no
# reader match, an enum symbol with no reader default) raise when decoded.
# ---------------------------------------------------------------------------

_NAMED = ("record", "enum", "fixed")

_PROMOTABLE = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
    "boolean": {"boolean"},
    "null": {"null"},
}


def _then(dec: Decoder, conv: Callable[[Any], Any] | None) -> Decoder:
    return dec if conv is None else (lambda r: conv(dec(r)))


def _promotion(wt: str, rt: str) -> Callable[[Any], Any] | None:
    if wt == rt or rt == "long":
        return None
    if rt in ("float", "double"):
        return float
    if rt == "bytes":
        return lambda v: v.encode("utf-8")
    return lambda v: v.decode("utf-8")  # bytes → string


def _member_names(union: list) -> list[str] | None:
    """The spark-avro shape of a union value (see to_spark_type): None for
    a bare value (``["null", X]`` or a widened numeric pair), else the
    names of its ``member0..N-1`` struct, one per non-null branch."""
    non_null = [b for b in union if b != "null"]
    if len(non_null) < 2 or {_type_name(b) for b in non_null} in ({"int", "long"}, {"float", "double"}):
        return None
    return [f"member{i}" for i in range(len(non_null))]


def _best_branch(w: Any, union: list) -> int:
    wt = _type_name(w)
    for fits in (lambda bt: bt == wt, lambda bt: bt in _PROMOTABLE.get(wt, ())):
        for i, b in enumerate(union):
            if fits(_type_name(b)) and (wt not in _NAMED or b["name"] == w["name"]):
                return i
    raise ValueError(
        f"schema resolution: writer {wt!r} matches no reader union branch "
        f"{[_type_name(b) for b in union]!r}"
    )


def _default_value(rd: Any, d: Any) -> Any:
    """A reader field's JSON default → the decoded-value representation."""
    if isinstance(rd, list):  # union default applies to the FIRST branch
        v, members = _default_value(rd[0], d), _member_names(rd)
        return v if members is None or rd[0] == "null" else {**dict.fromkeys(members), members[0]: v}
    if isinstance(rd, str):
        if rd == "null":
            return None
        if rd in ("float", "double"):
            return float(d)
        if rd in ("int", "long"):
            return int(d)
        if rd == "bytes":
            return d.encode("latin-1") if isinstance(d, str) else d
        return d
    t = rd["type"]
    if t == "record":
        d = d or {}
        return {
            f["name"]: _default_value(f["type"], d.get(f["name"], f.get("default"))) for f in rd["fields"]
        }
    if t == "array":
        return [_default_value(rd["items"], x) for x in (d or [])]
    if t == "map":
        return {k: _default_value(rd["values"], x) for k, x in (d or {}).items()}
    if t == "fixed":
        d = d.encode("latin-1") if isinstance(d, str) else d
        return _from_logical(rd)(d) if rd.get("logicalType") == "decimal" else d
    if t in _PRIMITIVES:  # logical-typed primitive: defaults are base-typed
        return _from_logical(rd)(_default_value(t, d))
    return d  # enum: the symbol string


def _fail(msg: str, r: _Reader) -> Any:
    raise ValueError(msg)


def _field_default(f: dict) -> Any:
    """A reader-only field's value: its default (null for a null-first union)."""
    if "default" not in f and not (isinstance(f["type"], list) and f["type"][0] == "null"):
        raise ValueError(
            f"schema resolution: reader field {f['name']!r} absent from writer and has no default"
        )
    return _default_value(f["type"], f.get("default"))


def compile_decoder(writer: Any, reader: Any = None) -> Decoder:
    """Compile the decoder of payloads written with ``writer`` and read as
    ``reader`` (both parse_schema trees; ``reader=None`` decodes plainly,
    as ``reader = writer``). The result maps a ``_Reader`` positioned at a
    value to the decoded value. A reader that can never resolve against
    the writer raises ValueError here, before any data is read."""
    return _compile(writer, writer if reader is None else reader, {})


def _compile(w: Any, rd: Any, memo: dict) -> Decoder:
    if isinstance(w, list):  # writer union: the branch index is in the stream
        branches = []
        for b in w:
            try:
                branches.append(_compile(b, rd, memo))
            except ValueError as e:  # an unmatched branch fails when it occurs
                branches.append(functools.partial(_fail, str(e)))
        return lambda r: branches[r.read_long()](r)
    if isinstance(rd, list):  # reader union: the best branch, in its shape
        i = _best_branch(w, rd)
        dec, members = _compile(w, rd[i], memo), _member_names(rd)
        if members is None or rd[i] == "null":
            return dec
        empty, key = dict.fromkeys(members), members[i - rd[:i].count("null")]
        return lambda r: {**empty, key: dec(r)}
    wt, rt = _type_name(w), _type_name(rd)
    if wt in _PROMOTABLE:
        if rt not in _PROMOTABLE[wt]:
            raise ValueError(f"schema resolution: cannot promote {wt!r} to {rt!r}")
        dec = _READ_PRIMITIVE[wt]
        if isinstance(w, dict):  # the writer's logical type converts first
            dec = _then(dec, _from_logical(w))
        dec = _then(dec, _promotion(wt, rt))
        # the reader's logical annotation applies only when the writer had
        # none: converting twice would corrupt the value
        return _then(dec, _from_logical(rd) if isinstance(rd, dict) and isinstance(w, str) else None)
    if rt != wt or (wt in _NAMED and w["name"] != rd["name"]):
        raise ValueError(
            f"schema resolution: writer {w.get('name', wt)!r} vs reader "
            f"{rd if isinstance(rd, str) else rd.get('name', rt)!r}"
        )
    if wt == "record":
        key = (id(w), id(rd))
        if key in memo:  # recursive record: bound once its decoder exists
            cell = memo[key]
            return lambda r: cell[0](r)
        cell = memo[key] = [None]
        try:
            r_types = {f["name"]: f["type"] for f in rd["fields"]}
            steps = [  # writer-only fields decode under the key None
                (f["name"] if f["name"] in r_types else None,
                 _compile(f["type"], r_types.get(f["name"], f["type"]), memo))
                for f in w["fields"]
            ]
            written = {f["name"] for f in w["fields"]}
            defaults = {f["name"]: _field_default(f) for f in rd["fields"] if f["name"] not in written}
        except ValueError:
            del memo[key]
            raise

        def record(r: _Reader) -> dict:
            out = {name: dec(r) for name, dec in steps}
            out.pop(None, None)
            if defaults:
                out.update(copy.deepcopy(defaults))
            return out

        cell[0] = record
        return record
    if wt == "enum":
        symbols = set(rd["symbols"])
        table = [s if s in symbols else rd.get("default", s) for s in w["symbols"]]

        def enum(r: _Reader) -> str:
            s = table[r.read_long()]
            if s not in symbols:
                raise ValueError(f"schema resolution: enum symbol {s!r} not in reader")
            return s

        return enum
    if wt == "fixed":
        if w["size"] != rd["size"]:
            raise ValueError("schema resolution: fixed name/size mismatch")
        size, logical = w["size"], rd.get("logicalType") == "decimal"
        return _then(lambda r: r.read_fixed(size), _from_logical(rd) if logical else None)
    if wt == "array":
        item = _compile(w["items"], rd["items"], memo)
        return lambda r: [item(r) for n in _blocks(r) for _ in range(n)]
    if wt != "map":
        raise ValueError(f"unsupported Avro type: {wt!r}")
    value = _compile(w["values"], rd["values"], memo)
    return lambda r: {_read_string(r): value(r) for n in _blocks(r) for _ in range(n)}


# Compiled decoders for the per-record entry points below, keyed on the
# identity of the trees; an entry holds its trees, so no id is reused
# while it is cached.
_COMPILED: dict[tuple[int, int], tuple[Any, Any, Decoder]] = {}


def _cached(writer: Any, reader: Any) -> Decoder:
    key = (id(writer), id(reader))
    hit = _COMPILED.get(key)
    if hit is None:
        if len(_COMPILED) >= 64:
            _COMPILED.clear()
        hit = _COMPILED[key] = (writer, reader, compile_decoder(writer, reader))
    return hit[2]


def decode_record(schema: Any, payload: bytes) -> dict:
    """Decode one binary-Avro payload (whole message, no magic byte) —
    the reference's ``deserializeAvro`` semantics."""
    return _cached(schema, schema)(_Reader(payload))


def decode_record_resolved(writer: Any, reader: Any, payload: bytes) -> dict:
    """Decode one binary payload written with ``writer`` under ``reader``
    (both parse_schema trees) per Avro schema resolution."""
    return _cached(writer, reader)(_Reader(payload))


# ---------------------------------------------------------------------------
# Binary encode (test fixtures + Kafka-producer parity, reference P1)
# ---------------------------------------------------------------------------


class _Writer:
    __slots__ = ("out",)

    def __init__(self):
        self.out = io.BytesIO()

    def write_long(self, v: int) -> None:
        v = (v << 1) ^ (v >> 63)  # zigzag (arbitrary-precision-safe for int64)
        v &= (1 << 64) - 1
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                self.out.write(bytes((b | 0x80,)))
            else:
                self.out.write(bytes((b,)))
                break

    def write_bytes(self, b: bytes) -> None:
        self.write_long(len(b))
        self.out.write(b)


def _encode(schema: Any, v: Any, w: _Writer) -> None:
    if isinstance(schema, str):
        if schema == "null":
            return
        if schema == "boolean":
            w.out.write(b"\x01" if v else b"\x00")
        elif schema in ("int", "long"):
            w.write_long(int(v))
        elif schema == "float":
            w.out.write(struct.pack("<f", float(v)))
        elif schema == "double":
            w.out.write(struct.pack("<d", float(v)))
        elif schema == "bytes":
            w.write_bytes(bytes(v))
        elif schema == "string":
            w.write_bytes(str(v).encode("utf-8"))
        else:
            raise ValueError(f"unknown primitive {schema!r}")
        return
    if isinstance(schema, list):
        if v is None and "null" in schema:
            idx = schema.index("null")
            w.write_long(idx)
            return
        non_null = [(i, b) for i, b in enumerate(schema) if b != "null"]
        if not non_null:
            raise ValueError("union has no non-null branch for value")
        if len(non_null) > 1:
            names = {_type_name(b) for _, b in non_null}
            if names == {"int", "long"} or names == {"float", "double"}:
                # widened scalar: encode into the widest branch
                wide = "long" if "long" in names else "double"
                idx, branch = next((i, b) for i, b in non_null if _type_name(b) == wide)
                w.write_long(idx)
                _encode(branch, v, w)
                return
            if isinstance(v, dict) and any(k.startswith("member") for k in v):
                set_members = [
                    k for k, mv in v.items() if k.startswith("member") and mv is not None
                ]
                if len(set_members) != 1:
                    raise ValueError(
                        f"member-struct union value must set exactly one member, got {set_members}"
                    )
                mi = int(set_members[0][len("member") :])
                idx, branch = non_null[mi]
                w.write_long(idx)
                _encode(branch, v[set_members[0]], w)
                return
            raise ValueError(
                f"cannot pick a union branch for {type(v).__name__} among {sorted(names)}"
            )
        idx, branch = non_null[0]
        w.write_long(idx)
        _encode(branch, v, w)
        return
    t = schema["type"]
    if t == "record":
        for f in schema["fields"]:
            _encode(f["type"], v[f["name"]], w)
    elif t == "enum":
        w.write_long(schema["symbols"].index(v))
    elif t == "fixed":
        if schema.get("logicalType") == "decimal" and not isinstance(v, (bytes, bytearray)):
            v = _to_base(schema, v)
        w.out.write(bytes(v))
    elif t in _PRIMITIVES:  # logical-typed primitive node
        _encode(t, _to_base(schema, v), w)
    elif t == "array":
        if v:
            w.write_long(len(v))
            for item in v:
                _encode(schema["items"], item, w)
        w.write_long(0)
    elif t == "map":
        if v:
            w.write_long(len(v))
            for k, val in v.items():
                w.write_bytes(str(k).encode("utf-8"))
                _encode(schema["values"], val, w)
        w.write_long(0)
    else:
        raise ValueError(f"unsupported Avro type: {t!r}")


def encode_record(schema: Any, record: dict) -> bytes:
    w = _Writer()
    _encode(schema, record, w)
    return w.out.getvalue()
