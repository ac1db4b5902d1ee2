"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the workload seed:

* ``write_tables`` writes the ten analytics tables the query registry reads
  (``region`` ... ``embeddings``), with the column types and value domains of
  the engine's synthetic star schema, as one Parquet file each.
* ``AvroStream`` builds binary-Avro payloads for two topics and stages them as
  Parquet files of ``(topic STRING, value BINARY)`` envelopes, the shape
  ``sources/kafka.py`` yields.

Payloads are assembled from pre-encoded field fragments: an Avro record's
binary form is the concatenation of its fields' encodings, so each field is
encoded once per distinct pool value with the engine's own ``encode_record``
and records are joined column-wise in Arrow. This gives many distinct records
(realistic Parquet compression of the landed output) without running the
pure-Python encoder once per record. Every record carries a unique sequence
number, so the generator knows exactly what must land: per-topic row counts
and integer checksums of the decoded key fields (see ``expected``).
"""

from __future__ import annotations

import json
import os
import uuid
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from kafka_etl_consumer_spark.avro_codec import encode_record, parse_schema
from kafka_etl_consumer_spark.fixtures import ITEM_VIEW_EVENT_AVSC, ITEM_VIEW_EVENT_TOPIC

METRIC_TOPIC = "host-metric-sample"

# Benchmark-defined schema: numeric, array, enum and map heavy — the shapes the
# string-heavy ItemViewEvent fixture never exercises in the decoder.
METRIC_AVSC: str = json.dumps(
    {
        "type": "record",
        "name": "HostMetricSample",
        "namespace": "perfbench",
        "fields": [
            {"name": "seq", "type": "long"},
            {"name": "host", "type": "string"},
            {
                "name": "level",
                "type": {"type": "enum", "name": "Level", "symbols": ["DEBUG", "INFO", "WARN", "ERROR"]},
            },
            {"name": "cpu", "type": "double"},
            {"name": "memMb", "type": "int"},
            {"name": "load", "type": {"type": "array", "items": "float"}},
            {"name": "counters", "type": {"type": "map", "values": "long"}},
            {"name": "latencyUs", "type": {"type": "array", "items": "long"}},
            {"name": "healthy", "type": "boolean"},
            {"name": "zone", "type": ["null", "string"]},
        ],
    }
)

TOPICS = (ITEM_VIEW_EVENT_TOPIC, METRIC_TOPIC)
# The integer checksums kept per topic, in the order workloads.verify_landed
# recomputes them from the landed rows.
CHECKSUMS = {
    ITEM_VIEW_EVENT_TOPIC: ("seq", "url_crc", "uid_crc", "item_crc", "price"),
    METRIC_TOPIC: ("seq", "host_crc", "mem_mb", "latency_len"),
}
AVSC = {ITEM_VIEW_EVENT_TOPIC: ITEM_VIEW_EVENT_AVSC, METRIC_TOPIC: METRIC_AVSC}
ITEM_SHARE = 0.8  # share of records on the ItemViewEvent topic

ENVELOPE = pa.schema([("topic", pa.string()), ("value", pa.binary())])

# Unique per-record sequence numbers start here: every value in
# [2**40, 2**41) zigzag-encodes to exactly six varint bytes, which lets the
# generator encode them with array arithmetic.
_SEQ_BASE = 1 << 40
_POOL = 4096  # distinct values per pooled field


def _field_encoder(avro_type):
    """Encoder for one field value: a one-field record's binary form is
    exactly that field's encoding."""
    tree = parse_schema({"type": "record", "name": "F", "fields": [{"name": "x", "type": avro_type}]})
    return lambda v: encode_record(tree, {"x": v})


def _seq_bytes(seq: np.ndarray) -> pa.Array:
    """Six-byte zigzag varints of ``seq`` (all in [2**40, 2**41))."""
    z = seq.astype(np.uint64) << np.uint64(1)
    out = np.empty((len(seq), 6), dtype=np.uint8)
    for k in range(5):
        out[:, k] = ((z >> np.uint64(7 * k)) & np.uint64(0x7F)) | np.uint64(0x80)
    out[:, 5] = z >> np.uint64(35)
    return pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(6), len(seq), [None, pa.py_buffer(out.tobytes())]
    ).cast(pa.binary())


def _crc(values) -> np.ndarray:
    return np.array(
        [zlib.crc32(v.encode()) if v is not None else 0 for v in values], dtype=np.int64
    )


@dataclass
class _Pool:
    """Pre-encoded fragments for one field plus the integer each value adds
    to the topic checksum."""

    frags: pa.Array
    key: np.ndarray | None = None


class AvroStream:
    """Seeded two-topic record stream. ``batch(n)`` returns the next ``n``
    envelopes in order; ``expected()`` the counts and checksums of every
    record handed out so far."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.next_seq = _SEQ_BASE
        self.sums = {t: np.zeros(len(CHECKSUMS[t]), dtype=np.int64) for t in TOPICS}
        self.counts = dict.fromkeys(TOPICS, 0)
        self.item_pools = self._item_pools()
        self.metric_pools = self._metric_pools()

    # -- pools -------------------------------------------------------------
    def _words(self, n: int, vocab: list[str], lo: int, hi: int) -> list[str]:
        lens = self.rng.integers(lo, hi + 1, n)
        idx = self.rng.integers(0, len(vocab), int(lens.sum()))
        out, at = [], 0
        for k in lens:
            out.append(" ".join(vocab[i] for i in idx[at : at + k]))
            at += k
        return out

    def _item_pools(self) -> dict[str, _Pool]:
        r = self.rng
        enc_s = _field_encoder(["null", "string"])
        enc_l = _field_encoder(["null", "long"])
        vocab = ("red blue light heavy steel cotton smart mini pro max eco classic "
                 "travel kitchen garden office sport kids winter summer").split()
        item_ids = [f"ITM-{v:010d}" for v in r.integers(0, 10**9, _POOL)]
        uids = [str(uuid.UUID(int=int(a) << 64 | int(b))) for a, b in r.integers(0, 2**62, (_POOL, 2))]
        prices = r.integers(500, 2_000_000, _POOL)
        cats = [f"CAT-{v:05d}" for v in r.integers(0, 400, _POOL)]
        urls = [f"https://shop.example.com/p/{i}?src={s}"
                for i, s in zip(item_ids, r.choice(["mail", "search", "feed", "push"], _POOL))]
        # referer is null for about a fifth of records (direct traffic)
        referers = [None if v < 0.2 else f"https://www.example.com/search?q={q}"
                    for v, q in zip(r.random(_POOL), self._words(_POOL, vocab, 1, 3))]
        site = [("MOBILE", "m.example.com"), ("PC", "www.example.com"), ("APP", "app.example.com")]
        dev = r.integers(0, 3, _POOL)
        base_tail = [
            enc_s(uid) + enc_s(f"pc-{p:08x}") + enc_s(f"svc-{s}") + enc_s(f"{v}.0.{m}")
            + enc_s(site[d][0]) + enc_s("example.com") + enc_s(site[d][1])
            for uid, p, s, v, m, d in zip(uids, r.integers(0, 2**31, _POOL), r.integers(0, 40, _POOL),
                                          r.integers(1, 4, _POOL), r.integers(0, 10, _POOL), dev)
        ]
        titles = self._words(_POOL, vocab, 2, 5)
        descs = self._words(_POOL, vocab, 3, 9)
        rest = [
            enc_s(f"BRD-{b:04d}") + enc_s(t) + enc_s(f"PROMO-{p:03d}" if p < 300 else None)
            for b, t, p in zip(r.integers(0, 900, _POOL), r.choice(["GOODS", "DIGITAL", "SERVICE"], _POOL),
                               r.integers(0, 600, _POOL))
        ]
        tail = [enc_s(t) + enc_s(d) + enc_s(f"https://img.example.com/t/{i}.jpg")
                for t, d, i in zip(titles, descs, item_ids)]
        return {
            # eventType, then the ["null","long"] timestamp's branch index 1
            # (0x02); the six-byte sequence number follows per record
            "prefix": _Pool(pa.array([_field_encoder("string")("item-view-event") + b"\x02"])),
            "url_ref": _Pool(pa.array([enc_s(u) + enc_s(f) for u, f in zip(urls, referers)]),
                             _crc(urls)),
            "base_tail": _Pool(pa.array(base_tail), _crc(uids)),
            "item": _Pool(pa.array([enc_s(i) + enc_s(c) for i, c in zip(item_ids, cats)]),
                          _crc(item_ids)),
            "rest": _Pool(pa.array(rest)),
            "price": _Pool(pa.array([enc_l(int(p)) for p in prices]), prices.astype(np.int64)),
            "tail": _Pool(pa.array(tail)),
        }

    def _metric_pools(self) -> dict[str, _Pool]:
        r = self.rng
        hosts = [f"node-{z}-{i:04d}.dc{d}.example.net"
                 for z, i, d in zip(r.choice(list("abcdef"), _POOL), r.integers(0, 5000, _POOL),
                                    r.integers(1, 9, _POOL))]
        mem = r.integers(256, 65536, _POOL)
        enc_level, enc_d, enc_i = (_field_encoder(t) for t in (
            {"type": "enum", "name": "Level", "symbols": ["DEBUG", "INFO", "WARN", "ERROR"]},
            "double", "int"))
        enc_load = _field_encoder({"type": "array", "items": "float"})
        enc_ctr = _field_encoder({"type": "map", "values": "long"})
        enc_lat = _field_encoder({"type": "array", "items": "long"})
        enc_b, enc_z = _field_encoder("boolean"), _field_encoder(["null", "string"])
        names = ["rx_bytes", "tx_bytes", "rx_err", "tx_err", "gc_pauses", "threads", "fds", "ctx_sw"]
        lat_len = r.integers(0, 9, _POOL)
        lat_pool = [enc_lat([int(x) for x in r.integers(50, 10**6, k)]) for k in lat_len]
        return {
            "host": _Pool(pa.array([_field_encoder("string")(h) for h in hosts]), _crc(hosts)),
            "mid": _Pool(pa.array([
                enc_level(["DEBUG", "INFO", "WARN", "ERROR"][lv]) + enc_d(float(c)) + enc_i(int(m))
                for lv, c, m in zip(r.choice(4, _POOL, p=[0.1, 0.7, 0.15, 0.05]),
                                    np.round(r.random(_POOL) * 100, 3), mem)]), mem.astype(np.int64)),
            "load": _Pool(pa.array([enc_load([float(x) for x in np.round(r.random(3) * 8, 2)])
                                    for _ in range(_POOL)])),
            "counters": _Pool(pa.array([
                enc_ctr({names[j]: int(v) for j, v in zip(r.choice(8, k, replace=False),
                                                          r.integers(0, 10**12, k))})
                for k in r.integers(2, 7, _POOL)])),
            "lat": _Pool(pa.array(lat_pool), lat_len.astype(np.int64)),
            "tail": _Pool(pa.array([enc_b(bool(h)) + enc_z(None if z < 0 else f"zone-{z}")
                                    for h, z in zip(r.random(_POOL) < 0.97, r.integers(-2, 12, _POOL))])),
        }

    # -- records -----------------------------------------------------------
    def _assemble(self, topic: str, n: int) -> pa.Array:
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        seq_frag = _seq_bytes(seq)
        sums = self.sums[topic]
        sums[0] += int(seq.sum())
        parts = []
        if topic == ITEM_VIEW_EVENT_TOPIC:
            p = self.item_pools
            parts = [p["prefix"].frags.take(pa.array(np.zeros(n, dtype=np.int64))), seq_frag]
            keyed = ("url_ref", "base_tail", "item", "rest", "price", "tail")
        else:
            p = self.metric_pools
            parts = [seq_frag]
            keyed = ("host", "mid", "load", "counters", "lat", "tail")
        col = 1
        for name in keyed:
            idx = self.rng.integers(0, len(p[name].frags), n)
            parts.append(p[name].frags.take(pa.array(idx)))
            if p[name].key is not None:
                sums[col] += int(p[name].key[idx].sum())
                col += 1
        self.counts[topic] += n
        return pc.binary_join_element_wise(*parts, b"")

    def batch(self, n: int) -> pa.Table:
        """The next ``n`` envelopes: about 80% ItemViewEvent, topics interleaved."""
        is_item = self.rng.random(n) < ITEM_SHARE
        n_item = int(is_item.sum())
        vals = {ITEM_VIEW_EVENT_TOPIC: self._assemble(ITEM_VIEW_EVENT_TOPIC, n_item),
                METRIC_TOPIC: self._assemble(METRIC_TOPIC, n - n_item)}
        order = np.empty(n, dtype=np.int64)
        order[is_item] = np.arange(n_item)
        order[~is_item] = n_item + np.arange(n - n_item)
        values = pa.concat_arrays([vals[ITEM_VIEW_EVENT_TOPIC], vals[METRIC_TOPIC]]).take(pa.array(order))
        topics = pa.array([METRIC_TOPIC, ITEM_VIEW_EVENT_TOPIC]).take(pa.array(is_item.astype(np.int8)))
        return pa.table([topics, values], schema=ENVELOPE)

    def expected(self) -> dict[str, dict[str, int]]:
        """Per topic: records handed out so far and their ``CHECKSUMS``."""
        return {t: {"rows": self.counts[t], **dict(zip(CHECKSUMS[t], map(int, self.sums[t])))}
                for t in TOPICS}


def write_envelopes(table: pa.Table, path: str, tmp_dir: str) -> None:
    """Write one envelope file atomically: a file stream must never list a
    half-written file, so write it in ``tmp_dir`` (same filesystem) and
    rename it into place."""
    tmp = os.path.join(tmp_dir, os.path.basename(path))
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# Analytics tables
# ---------------------------------------------------------------------------

_DOC_VOCAB = ("spark window merge table column vector stream value data small join filter big group "
              "hash customer sort order slow line part fast row the agg key query a scan batch").split()


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """The ten analytics tables at scale factor ``scale`` (0.1 gives 600k
    lineitem rows), one Parquet file each under ``out_dir``."""
    r = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(int(v * scale), m) for k, (v, m) in {
        "customer": (150_000, 50), "supplier": (10_000, 10), "part": (200_000, 50),
        "orders": (1_500_000, 100), "lineitem": (6_000_000, 400), "events": (1_000_000, 500),
        "users": (15_000, 20), "documents": (50_000, 60), "embeddings": (20_000, 40)}.items()}

    def save(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    def money(lo, hi, k):
        return np.round(r.uniform(lo, hi, k), 2)

    def day_ts(start, days, k):
        base = np.datetime64(start, "us")
        return base + (r.integers(0, days, k) * 86_400_000_000).astype("timedelta64[us]")

    save("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    k = n["customer"]
    save("customer", {"c_custkey": np.arange(k), "c_name": [f"Customer#{i:09d}" for i in range(k)],
                      "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
                      "c_acctbal": money(-999.99, 9999.99, k),
                      "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                                "MACHINERY"], k)})
    k = n["supplier"]
    save("supplier", {"s_suppkey": np.arange(k), "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                      "s_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
                      "s_acctbal": money(-999.99, 9999.99, k)})
    k = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    save("part", {"p_partkey": np.arange(k),
                  "p_name": [f"{adj[a]} {noun[b]}" for a, b in r.integers(0, 8, (k, 2))],
                  "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
                  "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k),
                  "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
                  "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 1)})
    k = n["orders"]
    save("orders", {"o_orderkey": np.arange(k), "o_custkey": r.integers(0, n["customer"], k),
                    "o_orderstatus": r.choice(["F", "O", "P"], k),
                    "o_totalprice": money(1000, 500_000, k),
                    "o_orderdate": day_ts("1995-01-01", 2404, k),
                    "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                 "5-LOW"], k)})
    k = n["lineitem"]
    save("lineitem", {"l_orderkey": r.integers(0, n["orders"], k),
                      "l_partkey": r.integers(0, n["part"], k),
                      "l_suppkey": r.integers(0, n["supplier"], k),
                      "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
                      "l_quantity": r.integers(1, 51, k).astype(np.float64),
                      "l_extendedprice": money(900, 105_000, k),
                      "l_discount": r.integers(0, 11, k) / 100.0,
                      "l_tax": r.integers(0, 9, k) / 100.0,
                      "l_returnflag": r.choice(["A", "N", "R"], k),
                      "l_linestatus": r.choice(["F", "O"], k),
                      "l_shipdate": day_ts("1995-01-02", 2498, k)})
    k = n["events"]
    micros = np.sort(r.integers(0, 30 * 86_400_000_000, k))
    save("events", {"event_id": np.arange(k),
                    "ts": np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
                    "user_id": r.integers(0, n["users"], k),
                    "event_type": r.choice(["click", "error", "purchase", "signup", "view"], k),
                    "value": np.round(r.exponential(50, k), 2),
                    "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})
    k = n["documents"]
    lens = r.integers(8, 97, k)
    words = r.integers(0, len(_DOC_VOCAB), int(lens.sum()))
    texts, at = [], 0
    for i, ln in enumerate(lens):
        texts.append(" ".join(_DOC_VOCAB[w] for w in words[at : at + ln]))
        at += ln
    # about 5% near-duplicates: an earlier document plus a marker token
    for i in np.flatnonzero(r.random(k) < 0.05):
        if i:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    save("documents", {"doc_id": np.arange(k), "text": texts,
                       "lang": r.choice(["en", "de", "es", "fr", "zh"], k, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
                       "source": [f"src{s}" for s in r.integers(0, 20, k)],
                       "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    k = n["embeddings"]
    emb = (r.standard_normal((k, 64)) * 0.12).astype(np.float32)
    save("embeddings", {"vec_id": np.arange(k),
                        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64)
                        .cast(pa.list_(pa.float32())),
                        "label": pa.array(r.integers(0, 10, k).astype(np.int32))})
