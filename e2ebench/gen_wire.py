#!/usr/bin/env python3
"""Seeded generator of Kafka-source-shaped wire-record dumps.

The program under test only ever sees the files written here: parquet
dumps with the Kafka source's columns (key, value: binary, topic,
partition, offset, timestamp), where `value` is a Confluent-framed Avro
record (magic byte 0, 4-byte big-endian schema id, Avro binary body) or
null for a tombstone. The Avro encoding is written out by hand below, so
the generator shares no code with the system it feeds.

Traffic properties (each one's measured share is written to
expected.json and printed by the benchmark):
  * two topics, shaped like `events` and `orders`;
  * three writer schemas: events split between ids 1 and 2 (v2 adds
    `props` with a default), orders on id 3;
  * about 2 % tombstones;
  * Zipf-skewed keys shared by both topics;
  * event times spread over 30 days (the stream workload instead uses
    near-current times, as a live topic would).

Usage:
  gen_wire.py batch  OUT --seed N --records N
  gen_wire.py stream OUT --seed N --files N
"""
import argparse
import json
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_V1 = ('{"type":"record","name":"Event","namespace":"com.example",'
            '"fields":[{"name":"event_type","type":"string"},'
            '{"name":"value","type":"double"}]}')
EVENT_V2 = ('{"type":"record","name":"Event","namespace":"com.example",'
            '"fields":[{"name":"event_type","type":"string"},'
            '{"name":"value","type":"double"},'
            '{"name":"props","type":"string","default":"n/a"}]}')
ORDER = ('{"type":"record","name":"Order","namespace":"com.example",'
         '"fields":[{"name":"o_orderkey","type":"long"},'
         '{"name":"o_custkey","type":"long"},'
         '{"name":"o_orderstatus","type":"string"},'
         '{"name":"o_totalprice","type":"double"},'
         '{"name":"o_orderpriority","type":"string"}]}')
SCHEMAS = {
    "events": {"writers": {"1": EVENT_V1, "2": EVENT_V2}, "reader": EVENT_V2},
    "orders": {"writers": {"3": ORDER}, "reader": ORDER},
}

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PARTITIONS = 4
N_KEYS = 20_000
ZIPF_S = 0.9
N_CUSTOMERS = 1_500
EVENTS_SHARE = 0.7
V1_SHARE = 0.4
TOMBSTONE_SHARE = 0.02
SPAN_US = 30 * 86_400 * 1_000_000
BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
REPLAY_SHARE = 0.1         # share of a batch dump delivered a second time
N_LOOP_QUERIES = 20_000    # closed-loop query order, longer than any run uses
RECORDS_PER_FILE = 200     # stream: records in each dropped file


# ---- Avro binary encoding (spec section "Binary Encoding") ---------------

def _long(n):
    n = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _str(s):
    b = s.encode("utf-8")
    return _long(len(b)) + b


def _double(x):
    return struct.pack("<d", x)


def _frame(schema_id, body):
    return b"\x00" + struct.pack(">I", schema_id) + body


# ---- record generation ----------------------------------------------------

def zipf_keys(rng, n):
    ranks = np.arange(1, N_KEYS + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    return rng.choice(N_KEYS, size=n, p=p) + 1  # key "1" is the hottest


def make_records(rng, n, ts_us):
    """n records in time order: returns a dict of columns plus payloads."""
    keys = zipf_keys(rng, n)
    is_event = rng.random(n) < EVENTS_SHARE
    tomb = rng.random(n) < TOMBSTONE_SHARE
    v1 = rng.random(n) < V1_SHARE
    etype = rng.integers(0, len(EVENT_TYPES), n)
    evalue = np.round(rng.uniform(0, 200, n), 2)
    props = rng.integers(0, 100, n)
    cust = rng.integers(0, N_CUSTOMERS, n)
    status = rng.integers(0, len(STATUSES), n)
    price = np.round(rng.uniform(900, 500_000, n), 2)
    prio = rng.integers(0, len(PRIORITIES), n)
    key_s = [str(k) for k in keys]
    topic = np.where(is_event, "events", "orders")
    partition = np.array([zlib.crc32(k.encode()) % PARTITIONS for k in key_s],
                         dtype=np.int32)
    schema_id = np.where(is_event, np.where(v1, 1, 2), 3)
    values = []
    order_key = 0
    for i in range(n):
        if tomb[i]:
            values.append(None)
            if not is_event[i]:
                order_key += 1
            continue
        if is_event[i]:
            body = _str(EVENT_TYPES[etype[i]]) + _double(float(evalue[i]))
            if not v1[i]:
                body += _str('{"k": %d}' % props[i])
            values.append(_frame(int(schema_id[i]), body))
        else:
            body = (_long(order_key) + _long(int(cust[i]))
                    + _str(STATUSES[status[i]]) + _double(float(price[i]))
                    + _str(PRIORITIES[prio[i]]))
            values.append(_frame(3, body))
            order_key += 1
    return {
        "key": key_s, "value": values, "topic": topic, "partition": partition,
        "ts_us": ts_us, "schema_id": schema_id, "tomb": tomb, "cust": cust,
        "is_event": is_event,
    }


def assign_offsets(rec, next_offset):
    """Offsets increase in record (= time) order within each partition."""
    offsets = np.empty(len(rec["key"]), dtype=np.int64)
    for i, (t, p) in enumerate(zip(rec["topic"], rec["partition"])):
        k = (t, int(p))
        offsets[i] = next_offset.get(k, 0)
        next_offset[k] = offsets[i] + 1
    rec["offset"] = offsets


def to_table(rec, idx=None):
    idx = np.arange(len(rec["key"])) if idx is None else np.asarray(idx)
    return pa.table({
        "key": pa.array([rec["key"][i] for i in idx], pa.string()),
        "value": pa.array([rec["value"][i] for i in idx], pa.binary()),
        "topic": pa.array(rec["topic"][idx], pa.string()),
        "partition": pa.array(rec["partition"][idx], pa.int32()),
        "offset": pa.array(rec["offset"][idx], pa.int64()),
        "timestamp": pa.array(rec["ts_us"][idx], pa.int64())
            .cast(pa.timestamp("us", tz="UTC")),
    })


def wire_bytes(rec):
    return int(sum(len(k.encode()) for k in rec["key"])
               + sum(len(v) for v in rec["value"] if v is not None))


def properties(rec):
    n = len(rec["key"])
    keys, counts = np.unique(np.array(rec["key"]), return_counts=True)
    ev = int(np.sum(rec["is_event"]))
    ev_live = ~rec["tomb"] & rec["is_event"]
    return {
        "records": n,
        "tombstones": int(np.sum(rec["tomb"])),
        "tombstone_share": float(np.mean(rec["tomb"])),
        "hottest_key": str(keys[np.argmax(counts)]),
        "hottest_key_share": float(counts.max() / n),
        "distinct_keys": int(len(keys)),
        "topic_share_events": ev / n,
        "schema_id1_share_of_events":
            float(np.sum(ev_live & (rec["schema_id"] == 1)) / max(1, np.sum(ev_live))),
        "wire_bytes": wire_bytes(rec),
    }


# ---- query pool (batch dumps) ---------------------------------------------

def query_pool(rng, rec, n_loop):
    """Query instances over the de-duplicated records, each with the row
    count the answer must have, plus a seeded closed-loop order."""
    key = np.array(rec["key"])
    topic = np.array(rec["topic"])
    tomb = rec["tomb"]
    ts = rec["ts_us"]
    keys, counts = np.unique(key, return_counts=True)
    order = np.argsort(-counts, kind="stable")
    hot = [str(keys[i]) for i in order[:10]]
    cold = [str(keys[i]) for i in order[1000:] if counts[i] >= 1]
    pool = []

    def add(qtype, rows, **params):
        pool.append({"type": qtype, "rows": int(rows), **params})

    for _ in range(3):
        lo = int(rng.integers(0, SPAN_US - 86_400_000_000))
        hi = lo + int(rng.integers(6 * 3_600_000_000, 3 * 86_400_000_000))
        inside = int(np.sum((ts >= BASE_US + lo) & (ts <= BASE_US + hi)))
        add("discover", min(100, inside), from_us=BASE_US + lo,
            to_us=BASE_US + hi, n=100)
    hours = np.unique((ts - BASE_US) // 3_600_000_000)
    add("histogram", len(hours), bucket="hour")
    for k in [hot[int(rng.integers(0, 10))], hot[int(rng.integers(0, 10))],
              cold[int(rng.integers(0, len(cold)))],
              cold[int(rng.integers(0, len(cold)))]]:
        add("search_key", np.sum(key == k), key=k,
            temperature="hot" if k in hot else "cold")
    cold_orders = sorted(set(cold) & set(key[topic == "orders"].tolist()))
    for k, t in [(hot[int(rng.integers(0, 10))], "events"),
                 (cold_orders[int(rng.integers(0, len(cold_orders)))], "orders")]:
        add("search_key_topic", np.sum((key == k) & (topic == t)), key=k, topic=t)
    live_orders = ~tomb & ~rec["is_event"]
    for _ in range(2):
        c = int(rng.integers(0, N_CUSTOMERS))
        add("search_field", np.sum(live_orders & (rec["cust"] == c)),
            field="o_custkey", value=c)
    n_orders = int(np.sum(~rec["is_event"]))
    for _ in range(2):
        # o_orderkey numbers the orders topic's records; tombstoned ones
        # carry no payload, so pick a live one
        live_keys = np.flatnonzero(live_orders[~rec["is_event"]])
        ok = int(live_keys[int(rng.integers(0, len(live_keys)))]) if n_orders else 0
        add("search_json", 1, path="$.o_orderkey", value=str(ok))
    add("tombstones", np.sum(tomb))
    add("latest", len(set(zip(topic.tolist(), key.tolist()))))
    k = hot[int(rng.integers(0, 10))]
    add("kql", np.sum((key == k) & (topic == "events")),
        query='key:"%s" AND topic:events' % k)
    c = int(rng.integers(0, N_CUSTOMERS))
    add("kql", np.sum(live_orders & (rec["cust"] == c)),
        query="topic:orders AND message.o_custkey:%d" % c)
    # seeded draws in rounds: each round asks every query type once, in a
    # shuffled order, so even a short loop sees the nine types evenly
    types = sorted({q["type"] for q in pool})
    by_type = {t: [i for i, q in enumerate(pool) if q["type"] == t] for t in types}
    loop = []
    while len(loop) < n_loop:
        for j in rng.permutation(len(types)):
            t = types[j]
            loop.append(by_type[t][int(rng.integers(0, len(by_type[t])))])
    return pool, loop


def write_parquet(table, path):
    pq.write_table(table, path, row_group_size=32_768, compression="snappy")


def gen_batch(args):
    rng = np.random.default_rng(args.seed)
    n = args.records
    ts = BASE_US + np.sort(rng.integers(0, SPAN_US, n))
    rec = make_records(rng, n, ts)
    assign_offsets(rec, {})
    write_parquet(to_table(rec), os.path.join(args.out, "wire.parquet"))
    # a replay re-delivers a contiguous slice (a consumer restarted from an
    # older offset): identical rows, so uid de-duplication is required
    n_rep = int(n * REPLAY_SHARE)
    start = int(rng.integers(0, n - n_rep + 1))
    replay_idx = list(range(start, start + n_rep))
    write_parquet(to_table(rec, replay_idx), os.path.join(args.out, "replay.parquet"))
    props = properties(rec)
    props["replayed_rows"] = n_rep
    props["replayed_share"] = n_rep / n
    props["distinct_uids"] = n
    pool, loop = query_pool(rng, rec, N_LOOP_QUERIES)
    meta = {"kind": "batch", "seed": args.seed, "properties": props,
            "schemas": SCHEMAS, "queries": pool, "loop": loop}
    with open(os.path.join(args.out, "expected.json"), "w") as f:
        json.dump(meta, f)


def gen_stream(args):
    """Pre-built files for the open-loop generator thread: file i is due at
    i * interval after the stream starts; file 0 is the warm-up file."""
    rng = np.random.default_rng(args.seed)
    n = args.files * RECORDS_PER_FILE
    # near-current event times: one day of traffic, in arrival order
    ts = BASE_US + np.sort(rng.integers(0, 86_400_000_000, n))
    rec = make_records(rng, n, ts)
    assign_offsets(rec, {})
    files = os.path.join(args.out, "files")
    os.makedirs(files, exist_ok=True)
    for i in range(args.files):
        idx = list(range(i * RECORDS_PER_FILE, (i + 1) * RECORDS_PER_FILE))
        pq.write_table(to_table(rec, idx), os.path.join(files, "f%06d.parquet" % i),
                       compression="snappy")
    props = properties(rec)
    props["distinct_uids"] = n
    keys, counts = np.unique(np.array(rec["key"]), return_counts=True)
    meta = {"kind": "stream", "seed": args.seed, "properties": props,
            "schemas": SCHEMAS, "files": args.files,
            "records_per_file": RECORDS_PER_FILE,
            "hot_key": str(keys[np.argmax(counts)])}
    with open(os.path.join(args.out, "expected.json"), "w") as f:
        json.dump(meta, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["batch", "stream"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--records", type=int, help="batch: records in the dump")
    ap.add_argument("--files", type=int, help="stream: files to drop")
    args = ap.parse_args()
    if (args.records if args.kind == "batch" else args.files) is None:
        ap.error("batch needs --records, stream needs --files")
    os.makedirs(args.out, exist_ok=True)
    (gen_batch if args.kind == "batch" else gen_stream)(args)


if __name__ == "__main__":
    main()
