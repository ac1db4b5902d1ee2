"""Ingest round-trip: the faithful no-Kafka stand-in for the reference's
manual Kafka→HDFS verification (SURVEY.md §5 item 3).

Pipeline under test: fixture rows → pure-Python Avro encode → (topic, value)
binary stream → ingest() decode → date-partitioned Snappy Parquet →
read back → row equality. Source is a file stream so the full streaming
decode→partition→write path runs exactly as it would off Kafka.
"""

from __future__ import annotations

import glob
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
from kafka_etl_consumer_spark.fixtures import (
    ITEM_VIEW_EVENT_AVSC,
    ITEM_VIEW_EVENT_TOPIC,
    item_view_events,
)
from kafka_etl_consumer_spark.schema.registry import DictSchemaRegistry
from kafka_etl_consumer_spark.streaming.ingest import (
    IntervalUnit,
    decode_avro,
    encode_avro,
    ingest,
    rolling_trigger,
)

ENVELOPE = T.StructType(
    [T.StructField("topic", T.StringType()), T.StructField("value", T.BinaryType())]
)


def _encoded_events_df(spark, n=10):
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
        for r in item_view_events(n)
    ]
    return spark.createDataFrame(rows, ENVELOPE)


def test_decode_avro_batch(spark):
    df = _encoded_events_df(spark)
    out = decode_avro(df, ITEM_VIEW_EVENT_AVSC, keep_cols=["topic"])
    rows = out.orderBy("itemId").collect()
    assert len(rows) == 10
    assert rows[0].topic == ITEM_VIEW_EVENT_TOPIC
    assert rows[0].itemId == "any-item-id0"
    assert rows[0].baseProperties.eventType == "item-view-event"
    assert rows[0].baseProperties.deviceType == "MOBILE"
    assert rows[0].price == 168000
    # nested struct preserved, not flattened (reference pass-through, §2.1)
    assert out.schema["baseProperties"].dataType.typeName() == "struct"


def test_decode_avro_permissive_vs_failfast(spark):
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    good = encode_record(schema, item_view_events(1)[0])
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(good)),
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(b"\x01\x02corrupt")),
    ]
    df = spark.createDataFrame(rows, ENVELOPE)
    out = decode_avro(df, ITEM_VIEW_EVENT_AVSC, mode="PERMISSIVE").collect()
    assert len(out) == 2
    assert sorted((r.itemId is None) for r in out) == [False, True]
    with pytest.raises(Exception):
        decode_avro(df, ITEM_VIEW_EVENT_AVSC, mode="FAILFAST").collect()


def test_encode_decode_roundtrip_df(spark):
    src = _encoded_events_df(spark)
    decoded = decode_avro(src, ITEM_VIEW_EVENT_AVSC)
    reencoded = encode_avro(decoded, ITEM_VIEW_EVENT_AVSC)
    redecoded = decode_avro(reencoded, ITEM_VIEW_EVENT_AVSC)
    a = sorted(decoded.collect(), key=lambda r: r.itemId)
    b = sorted(redecoded.collect(), key=lambda r: r.itemId)
    assert a == b


@pytest.mark.slow
@pytest.mark.parametrize("layout", ["reference", "hive"])
def test_ingest_streaming_roundtrip(spark, tmp_path, layout):
    # Stage encoded payloads as parquet for a file stream — same (topic,
    # value) shape the Kafka source yields.
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    _encoded_events_df(spark).write.parquet(src_dir)

    stream = spark.readStream.schema(ENVELOPE).parquet(src_dir)
    reg = DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC})
    queries = ingest(
        stream,
        reg,
        out_dir,
        topics=[ITEM_VIEW_EVENT_TOPIC],
        checkpoint_path=ckpt_dir,
        trigger=rolling_trigger(IntervalUnit.MINUTE, 1),
        layout=layout,
    )
    try:
        deadline = time.time() + 60
        target = f"{out_dir}/{ITEM_VIEW_EVENT_TOPIC}"
        while time.time() < deadline:
            for q in queries:
                q.processAllAvailable()
            if glob.glob(f"{target}/**/*.parquet", recursive=True):
                break
            time.sleep(0.5)
    finally:
        for q in queries:
            q.stop()

    files = glob.glob(f"{target}/**/*.parquet", recursive=True)
    assert files, f"no parquet landed under {target}"
    # Directory contract: <out>/<topic>/<yyyy-MM-dd/HH/mm>/ for reference
    # layout; dt0=yyyy-MM-dd/dt1=HH/dt2=mm for hive layout (README.md:14-26
    # of the reference).
    rel = files[0][len(target) + 1 :]
    depth = rel.count("/")
    if layout == "reference":
        assert depth == 3, rel
    else:
        assert all(seg.startswith("dt") for seg in rel.split("/")[:-1]), rel

    # reference layout nests plain date dirs (not key=value), so read-back
    # needs recursiveFileLookup — the documented tradeoff vs hive layout
    back = spark.read.option("recursiveFileLookup", "true").parquet(target)
    got = sorted(
        (r.itemId, r.price, r.baseProperties.uid) for r in back.select("itemId", "price", "baseProperties").collect()
    )
    want = sorted(
        (r["itemId"], r["price"], r["baseProperties"]["uid"]) for r in item_view_events(10)
    )
    assert got == want


@pytest.mark.slow
def test_ingest_event_time_partitioning(spark, tmp_path):
    """hive layout + event_time_col: directories derive from the EVENT's
    own timestamp (fixtures pin baseProperties.timestamp), not wall clock —
    the late-data-correct option the reference lacks (SURVEY.md §2.2)."""
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    _encoded_events_df(spark).write.parquet(src_dir)

    stream = spark.readStream.schema(ENVELOPE).parquet(src_dir)
    reg = DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC})
    queries = ingest(
        stream,
        reg,
        out_dir,
        topics=[ITEM_VIEW_EVENT_TOPIC],
        checkpoint_path=ckpt_dir,
        layout="hive",
        date_format="yyyy-MM-dd/HH",
        event_time_col=F.timestamp_millis(F.col("baseProperties.timestamp")),
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    import datetime as dt

    from kafka_etl_consumer_spark.fixtures import item_view_events

    ts = item_view_events(1)[0]["baseProperties"]["timestamp"] / 1000
    expect_day = dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%d")
    target = f"{out_dir}/{ITEM_VIEW_EVENT_TOPIC}"
    files = glob.glob(f"{target}/**/*.parquet", recursive=True)
    assert files
    # every file sits under dt0=<event day>, regardless of today's date
    assert all(f"dt0={expect_day}" in f for f in files), files[:2]
    # partition pruning works on the event-time directories
    back = spark.read.parquet(target).filter(F.col("dt0") == expect_day)
    assert back.count() == 10


def test_event_time_requires_hive_layout(spark):
    stream_like = spark.range(1).select(
        F.lit("t").alias("topic"), F.lit(b"x").alias("value")
    )
    reg = DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC})
    with pytest.raises(ValueError):
        ingest(
            stream_like,
            reg,
            "/tmp/x",
            topics=[ITEM_VIEW_EVENT_TOPIC],
            checkpoint_path="/tmp/c",
            layout="reference",
            event_time_col="ts",
        )


PAGE_VIEW_AVSC = """{
  "type": "record", "name": "PageView", "fields": [
    {"name": "url", "type": "string"},
    {"name": "viewTs", "type": ["null", "long"]}]}"""


@pytest.mark.slow
def test_multi_topic_per_schema_demux(spark, tmp_path):
    """S2 parity: one mixed stream, two topics, two DIFFERENT Avro schemas —
    each topic lands under its own directory with its own columns
    (the reference's per-TopicPartition writer fan-out, ETLTask.java:261-274
    of the reference)."""
    iv_schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    pv_schema = parse_schema(PAGE_VIEW_AVSC)
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(iv_schema, r)))
        for r in item_view_events(6)
    ] + [
        Row(
            topic="page-view",
            value=bytearray(encode_record(pv_schema, {"url": f"/p/{i}", "viewTs": 1700000000000 + i})),
        )
        for i in range(4)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, ENVELOPE).write.parquet(src)

    reg = DictSchemaRegistry(
        {ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC, "page-view": PAGE_VIEW_AVSC}
    )
    queries = ingest(
        spark.readStream.schema(ENVELOPE).parquet(src),
        reg,
        str(tmp_path / "out"),
        topics=[ITEM_VIEW_EVENT_TOPIC, "page-view"],
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()

    iv = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{tmp_path}/out/{ITEM_VIEW_EVENT_TOPIC}"
    )
    pv = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{tmp_path}/out/page-view"
    )
    assert iv.count() == 6 and "itemId" in iv.columns
    assert pv.count() == 4 and set(pv.columns) == {"url", "viewTs"}
    assert sorted(r.url for r in pv.collect()) == [f"/p/{i}" for i in range(4)]


@pytest.mark.slow
def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """C1/C2 parity, upgraded: restart from the checkpoint reprocesses
    NOTHING (exactly-once), where the reference re-consumes the last
    committed record per partition (off-by-one commit,
    ETLTask.java:269,359 of the reference — divergence we do NOT copy)."""
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def stage(events):
        rows = [
            Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
            for r in events
        ]
        spark.createDataFrame(rows, ENVELOPE).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        qs = ingest(
            spark.readStream.schema(ENVELOPE).parquet(src),
            DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC}),
            out,
            topics=[ITEM_VIEW_EVENT_TOPIC],
            checkpoint_path=ckpt,
        )
        try:
            for q in qs:
                q.processAllAvailable()
        finally:
            for q in qs:
                q.stop()

    all_events = item_view_events(10)
    stage(all_events[:6])
    run_once()  # first "deployment": lands 6
    stage(all_events[6:])
    run_once()  # restart from checkpoint: must land ONLY the 4 new ones

    back = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out}/{ITEM_VIEW_EVENT_TOPIC}"
    )
    got = sorted(r.itemId for r in back.select("itemId").collect())
    assert got == sorted(e["itemId"] for e in all_events)  # 10 rows, no dupes


def test_permissive_dead_letter_column(spark):
    """corrupt_col keeps the raw bytes of undecodable payloads so they can
    be quarantined and replayed — the reference would kill the pipeline."""
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    good = encode_record(schema, item_view_events(1)[0])
    rows = [
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(good)),
        Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(b"\x07broken")),
    ]
    df = spark.createDataFrame(rows, ENVELOPE)
    out = decode_avro(
        df, ITEM_VIEW_EVENT_AVSC, keep_cols=["topic"],
        mode="PERMISSIVE", corrupt_col="_corrupt",
    )
    dead = out.filter(F.col("_corrupt").isNotNull()).collect()
    ok = out.filter(F.col("_corrupt").isNull()).collect()
    assert len(dead) == 1 and bytes(dead[0]._corrupt) == b"\x07broken"
    assert dead[0].itemId is None
    assert len(ok) == 1 and ok[0].itemId == "any-item-id0"
    with pytest.raises(ValueError, match="PERMISSIVE"):
        decode_avro(df, ITEM_VIEW_EVENT_AVSC, corrupt_col="_corrupt")


def test_reader_schema_evolution(spark):
    """Rolling upgrade: payloads written with schema v1 decode under reader
    schema v2 (adds a defaulted field, drops one) — add-with-default /
    drop, per Avro schema resolution; the reference cannot do this at all."""
    v1 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "legacy", "type": "string"},
        {"name": "amount", "type": "int"}]}"""
    v2 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "amount", "type": "int"},
        {"name": "channel", "type": "string", "default": "web"},
        {"name": "note", "type": ["null", "string"], "default": null}]}"""
    schema_v1 = parse_schema(v1)
    rows = [
        Row(topic="t", value=bytearray(encode_record(schema_v1, {"id": i, "legacy": "x", "amount": 10 + i})))
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, ENVELOPE)
    out = decode_avro(df, v1, reader_avsc=v2)
    assert out.columns == ["id", "amount", "channel", "note"]  # reader order
    got = sorted((r.id, r.amount, r.channel, r.note) for r in out.collect())
    assert got == [(0, 10, "web", None), (1, 11, "web", None), (2, 12, "web", None)]

    # a multi-branch union decodes to the same member struct with or
    # without a reader schema (the double rides along through the shipped
    # decoder)
    a = """{"type": "record", "name": "U", "fields": [
      {"name": "u", "type": ["null", "int", "string"]}, {"name": "x", "type": "double"}]}"""
    payload = encode_record(parse_schema(a), {"u": {"member0": 5, "member1": None}, "x": 0.5})
    udf = spark.createDataFrame([Row(topic="t", value=bytearray(payload))], ENVELOPE)
    want = [Row(u=Row(member0=5, member1=None), x=0.5)]
    assert decode_avro(udf, a).collect() == want
    assert decode_avro(udf, a, reader_avsc=a).collect() == want

    # a reader field with no writer field and no default can never
    # resolve: the query is refused when it is built
    no_default = """{"type": "record", "name": "Evt", "fields": [
      {"name": "id", "type": "long"}, {"name": "region", "type": "string"}]}"""
    with pytest.raises(ValueError, match="no default"):
        decode_avro(df, v1, reader_avsc=no_default)


def test_corrupt_col_never_takes_jvm_path(spark, monkeypatch):
    """ADVICE r1: JVM PERMISSIVE from_avro returns all-null-FIELDS rows for
    corrupt payloads (never a null struct), so a JVM-side dead-letter check
    silently drops them. decode_avro must route corrupt_col through the
    Python decoder even when the jar looks available — forcing the probe to
    True proves the branch: the JVM path would crash here (no jar), the
    Python path captures the bytes."""
    import sys

    ing = sys.modules["kafka_etl_consumer_spark.streaming.ingest"]
    monkeypatch.setattr(ing, "_jvm_from_avro_available", lambda *a: True)
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    good = encode_record(schema, item_view_events(1)[0])
    df = spark.createDataFrame(
        [
            Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(good)),
            Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(b"\x07broken")),
        ],
        ENVELOPE,
    )
    out = ing.decode_avro(
        df, ITEM_VIEW_EVENT_AVSC, keep_cols=["topic"],
        mode="PERMISSIVE", corrupt_col="_corrupt",
    )
    dead = out.filter(F.col("_corrupt").isNotNull()).collect()
    assert len(dead) == 1 and bytes(dead[0]._corrupt) == b"\x07broken"


def test_reference_layout_idempotent_replay(spark, tmp_path):
    """Chaos-replay parity (VERDICT r1 item 6): after a crash mid-batch,
    Structured Streaming re-invokes foreachBatch with the SAME batch_id.
    With idempotent=True the replay must overwrite the bid-keyed directory
    pinned by the _batch_index marker — partial files from the failed
    attempt disappear and the row set equals the batch exactly once."""
    from kafka_etl_consumer_spark.streaming.ingest import _reference_layout_writer

    sink = str(tmp_path / "sink")
    writer = _reference_layout_writer(sink, "yyyy-MM-dd/HH/mm", idempotent=True)
    batch = _encoded_events_df(spark, 5)

    writer(batch, 0)
    files_first = set(glob.glob(f"{sink}/**/*.parquet", recursive=True))
    assert files_first, "first attempt wrote nothing"

    # simulate a partial leftover from a crashed attempt, then the replay
    bid_dir = next(iter(files_first)).rsplit("/", 1)[0]
    (tmp_path / "garbage").write_bytes(b"not parquet")
    import shutil

    shutil.copy(tmp_path / "garbage", f"{bid_dir}/part-leftover.parquet.tmp")
    writer(batch, 0)

    back = spark.read.option("recursiveFileLookup", "true").parquet(sink)
    assert back.count() == 5  # exactly once, not 10, and no stray partials
    assert not glob.glob(f"{sink}/**/part-leftover*", recursive=True)
    # marker pinned one date dir: replay reused it (no second date dir)
    import os

    date_dirs = {
        os.path.relpath(p, sink).split("/bid=")[0]
        for p in glob.glob(f"{sink}/*/*/*/bid=*", recursive=False)
    }
    assert len(date_dirs) == 1


@pytest.mark.slow
def test_ingest_idempotent_restart_no_duplicates(spark, tmp_path):
    """End-to-end idempotent reference layout across a stop/restart."""
    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def stage(events):
        rows = [
            Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
            for r in events
        ]
        spark.createDataFrame(rows, ENVELOPE).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        qs = ingest(
            spark.readStream.schema(ENVELOPE).parquet(src),
            DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC}),
            out,
            topics=[ITEM_VIEW_EVENT_TOPIC],
            checkpoint_path=ckpt,
            idempotent=True,
        )
        try:
            for q in qs:
                q.processAllAvailable()
        finally:
            for q in qs:
                q.stop()

    all_events = item_view_events(8)
    stage(all_events[:5])
    run_once()
    stage(all_events[5:])
    run_once()

    back = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out}/{ITEM_VIEW_EVENT_TOPIC}"
    )
    got = sorted(r.itemId for r in back.select("itemId").collect())
    assert got == sorted(e["itemId"] for e in all_events)

@pytest.mark.slow
def test_chaos_lost_commit_replay_exactly_once(spark, tmp_path):
    """Chaos: crash in the window between the offsets write and the commit
    write (the classic failure slot — C1/C2, ETLTask.java:269,359 of the
    reference). Simulated by deleting the newest ``commits/`` marker after a
    clean run; on restart Spark re-executes that batch. The hive layout's
    file sink logs committed files in ``_spark_metadata``, so the replay is
    invisible-or-idempotent and the read-back row set still equals a BATCH
    decode of the same source — the oracle the streaming path must match."""
    import os

    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def stage(events):
        rows = [
            Row(topic=ITEM_VIEW_EVENT_TOPIC, value=bytearray(encode_record(schema, r)))
            for r in events
        ]
        spark.createDataFrame(rows, ENVELOPE).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        qs = ingest(
            spark.readStream.schema(ENVELOPE).parquet(src),
            DictSchemaRegistry({ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC}),
            out,
            topics=[ITEM_VIEW_EVENT_TOPIC],
            checkpoint_path=ckpt,
            layout="hive",
        )
        try:
            for q in qs:
                q.processAllAvailable()
        finally:
            for q in qs:
                q.stop()

    all_events = item_view_events(9)
    stage(all_events[:6])
    run_once()

    # crash before the commit marker landed: offsets say batch N started,
    # commits don't know it finished → restart re-runs batch N. The local
    # ChecksumFileSystem keeps a .N.crc shadow per marker — a real crash
    # loses both, and a stale crc makes Spark's commit-log staleness check
    # misread the replay as a concurrent query, so remove it too.
    commits = sorted(
        (
            p
            for p in glob.glob(f"{ckpt}/{ITEM_VIEW_EVENT_TOPIC}/commits/*")
            if p.rsplit("/", 1)[1].isdigit()
        ),
        key=lambda p: int(p.rsplit("/", 1)[1]),
    )
    assert commits, "no commit markers written"
    os.remove(commits[-1])
    cdir, batch = commits[-1].rsplit("/", 1)
    crc = f"{cdir}/.{batch}.crc"
    if os.path.exists(crc):
        os.remove(crc)

    stage(all_events[6:])
    run_once()

    back = spark.read.parquet(f"{out}/{ITEM_VIEW_EVENT_TOPIC}")
    oracle = decode_avro(
        spark.read.parquet(src).filter(F.col("topic") == ITEM_VIEW_EVENT_TOPIC),
        ITEM_VIEW_EVENT_AVSC,
    )
    assert sorted(r.itemId for r in back.select("itemId").collect()) == sorted(
        r.itemId for r in oracle.select("itemId").collect()
    )


def test_jvm_python_avro_decode_parity(spark):
    """VERDICT r1 item 4: when spark-avro IS loadable (a real cluster), the
    JVM ``from_avro`` branch and the pure-Python codec must produce the same
    rows for the same payloads. In this container the jar is absent, so the
    test records the branch choice and skips — on a cluster it runs live."""
    import sys

    df = _encoded_events_df(spark, 6)
    ing = sys.modules["kafka_etl_consumer_spark.streaming.ingest"]
    if not ing._jvm_from_avro_available(df, "value", ITEM_VIEW_EVENT_AVSC):
        pytest.skip(
            "spark-avro not loadable → decode_avro takes the pure-Python "
            "mapInPandas branch (tested everywhere else in this file)"
        )
    jvm_rows = ing.decode_avro(df, ITEM_VIEW_EVENT_AVSC).collect()
    orig = ing._jvm_from_avro_available
    try:
        ing._jvm_from_avro_available = lambda *a: False
        py_rows = ing.decode_avro(df, ITEM_VIEW_EVENT_AVSC).collect()
    finally:
        ing._jvm_from_avro_available = orig
    assert sorted(map(str, jvm_rows)) == sorted(map(str, py_rows))


def test_decode_avro_logical_types_and_union_struct(spark):
    # Logical types land as real Spark types through the full mapInPandas
    # decode path (date/timestamp/decimal), and a multi-branch union lands
    # as the spark-avro member-struct — not just in the codec unit tests.
    import datetime as dt
    import decimal
    import json

    avsc = json.dumps({
        "type": "record", "name": "Ledger",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {"name": "at", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "amount", "type": {"type": "bytes", "logicalType": "decimal",
                                        "precision": 12, "scale": 2}},
            {"name": "ref", "type": ["null", "string", "long"]},
        ],
    })
    tree = parse_schema(avsc)
    rows = [
        {"id": 1, "day": dt.date(2024, 5, 4), "at": dt.datetime(2024, 5, 4, 8, 30, 0, 500000),
         "amount": decimal.Decimal("1234.56"), "ref": {"member0": "inv-9", "member1": None}},
        {"id": 2, "day": dt.date(1970, 1, 1), "at": dt.datetime(1970, 1, 1),
         "amount": decimal.Decimal("-0.01"), "ref": {"member0": None, "member1": 42}},
        {"id": 3, "day": dt.date(2030, 12, 31), "at": dt.datetime(2030, 12, 31, 23, 59, 59),
         "amount": decimal.Decimal("0.00"), "ref": None},
    ]
    df = spark.createDataFrame(
        [Row(topic="ledger", value=bytearray(encode_record(tree, r))) for r in rows],
        ENVELOPE,
    )
    out = decode_avro(df, avsc)
    assert dict(out.dtypes)["day"] == "date"
    assert dict(out.dtypes)["at"] == "timestamp"
    assert dict(out.dtypes)["amount"] == "decimal(12,2)"
    assert dict(out.dtypes)["ref"] == "struct<member0:string,member1:bigint>"
    got = {r.id: r for r in out.collect()}
    assert got[1].day == dt.date(2024, 5, 4)
    assert got[1].at == dt.datetime(2024, 5, 4, 8, 30, 0, 500000)
    assert got[1].amount == decimal.Decimal("1234.56")
    assert got[1].ref.member0 == "inv-9" and got[1].ref.member1 is None
    assert got[2].amount == decimal.Decimal("-0.01")
    assert got[2].ref.member1 == 42
    assert got[3].day == dt.date(2030, 12, 31) and got[3].ref is None


def test_registry_framing_roundtrip_and_decode(spark):
    """Framed (magic + schema id) payloads unwrap JVM-side and decode
    through the unchanged decode_avro path; bad magic rows dead-letter
    in PERMISSIVE and raise in FAILFAST."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
    from kafka_etl_consumer_spark.fixtures import (
        ITEM_VIEW_EVENT_AVSC,
        item_view_events,
    )
    from kafka_etl_consumer_spark.streaming.ingest import (
        add_registry_framing,
        decode_avro,
        strip_registry_framing,
    )

    schema = parse_schema(ITEM_VIEW_EVENT_AVSC)
    events = item_view_events(5)
    payloads = [bytearray(encode_record(schema, e)) for e in events]
    env = T.StructType([T.StructField("value", T.BinaryType())])
    raw = spark.createDataFrame([Row(value=p) for p in payloads], env)

    framed = add_registry_framing(raw, schema_id=42)
    unwrapped = strip_registry_framing(framed)
    assert unwrapped.select("schema_id").distinct().collect()[0].schema_id == 42
    decoded = decode_avro(unwrapped, ITEM_VIEW_EVENT_AVSC)
    got = sorted(r.baseProperties.uid for r in decoded.collect())
    want = sorted(e["baseProperties"]["uid"] for e in events)
    assert got == want

    # corrupt framing: wrong magic byte
    bad = spark.createDataFrame(
        [Row(value=bytearray(b"\x07" + bytes(8)))], env
    )
    perm = strip_registry_framing(bad, mode="PERMISSIVE").collect()[0]
    assert perm.schema_id is None and perm.value is None
    with pytest.raises(Exception, match="magic"):
        strip_registry_framing(bad, mode="FAILFAST").collect()

    # dead-letter: corrupt_col preserves the RAW bytes for replay
    dl = strip_registry_framing(
        bad, mode="PERMISSIVE", corrupt_col="bad_raw"
    ).collect()[0]
    assert bytes(dl.bad_raw) == b"\x07" + bytes(8)
    with pytest.raises(ValueError):
        strip_registry_framing(bad, mode="FAILFAST", corrupt_col="bad_raw")

    # a frame of exactly header + zero-length body is LEGAL (an
    # all-defaulted record encodes to 0 bytes) — must not be rejected
    empty_body = spark.createDataFrame(
        [Row(value=bytearray(b"\x00" + (9).to_bytes(4, "big")))], env
    )
    r = strip_registry_framing(empty_body, mode="FAILFAST").collect()[0]
    assert r.schema_id == 9 and bytes(r.value) == b""

    # pruning-resistance: selecting ONLY the payload must still trip
    # FAILFAST — if the guard lived only in schema_id, column pruning
    # would eliminate it and bad rows would pass as NULL payloads
    with pytest.raises(Exception, match="magic"):
        strip_registry_framing(bad, mode="FAILFAST").select("value").collect()


def test_reader_schema_promotion_through_dataframe(spark):
    """Promotions flow through decode_avro's reader path end-to-end: an
    int-written field lands as LongType/DoubleType columns typed by the
    READER schema."""
    v1 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "int"},
        {"name": "amount", "type": "int"}]}"""
    v2 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "amount", "type": "double"}]}"""
    schema_v1 = parse_schema(v1)
    rows = [
        Row(topic="t", value=bytearray(encode_record(schema_v1, {"id": i, "amount": 10 + i})))
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, ENVELOPE)
    out = decode_avro(df, v1, reader_avsc=v2)
    types = dict(out.dtypes)
    assert types == {"id": "bigint", "amount": "double"}
    assert sorted((r.id, r.amount) for r in out.collect()) == [
        (0, 10.0), (1, 11.0), (2, 12.0)
    ]


def test_ingest_with_reader_registry_evolves_schema(spark, tmp_path):
    """End-to-end rolling upgrade through the ingest pipeline: producers
    keep writing schema v1 payloads while the landed parquet carries the
    v2 reader columns/types — a defaulted new field, a dropped field,
    and an int->long promotion."""
    import glob as _glob
    import time as _time

    v1 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "int"},
        {"name": "legacy", "type": "string"},
        {"name": "amount", "type": "int"}]}"""
    v2 = """{
      "type": "record", "name": "Evt", "fields": [
        {"name": "id", "type": "long"},
        {"name": "amount", "type": "long"},
        {"name": "channel", "type": "string", "default": "web"}]}"""
    topic = "evt"
    schema_v1 = parse_schema(v1)
    rows = [
        Row(topic=topic, value=bytearray(
            encode_record(schema_v1, {"id": i, "legacy": "x", "amount": 10 + i})))
        for i in range(4)
    ]
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    spark.createDataFrame(rows, ENVELOPE).write.parquet(src_dir)

    stream = spark.readStream.schema(ENVELOPE).parquet(src_dir)
    queries = ingest(
        stream,
        DictSchemaRegistry({topic: v1}),
        out_dir,
        topics=[topic],
        checkpoint_path=ckpt_dir,
        trigger="1 second",
        reader_registry=DictSchemaRegistry({topic: v2}),
    )
    try:
        deadline = _time.time() + 60
        target = f"{out_dir}/{topic}"
        while _time.time() < deadline:
            for q in queries:
                q.processAllAvailable()
            if _glob.glob(f"{target}/**/*.parquet", recursive=True):
                break
            _time.sleep(0.5)
    finally:
        for q in queries:
            q.stop()

    got = spark.read.option("recursiveFileLookup", "true").parquet(target)
    assert dict(got.dtypes) == {"id": "bigint", "amount": "bigint", "channel": "string"}
    assert sorted((r.id, r.amount, r.channel) for r in got.collect()) == [
        (i, 10 + i, "web") for i in range(4)
    ]
