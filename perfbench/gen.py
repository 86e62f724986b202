"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed and size
give byte-identical files. The generators also return the expected results
computed from their own construction, so the correctness gates never ask the
engine what the right answer is.

Two families of inputs:

* the keyed JSON log the paper's job consumes, written both as kafka-shaped
  parquet (one file per partition) and as `kafkalog` segments
  (`p=<partition>/<segment>` files of `<offset>TAB<base64(value)>` lines);
* the ten read-only tables the headline query suite runs on (a TPC-H-like
  star schema plus `events`, `documents` and `embeddings`).
"""
import base64
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# keyed JSON log

# The log's shape: partitions, records per id, the share of records that go
# to the hottest 1% of ids (hot-key skew), the share of malformed JSON, and
# the message length (well-formed payloads are about MSG_LEN + 20 bytes).
N_PARTITIONS = 8
RECORDS_PER_ID = 10
HOT_FRAC = 0.3
CORRUPT_FRAC = 0.01
MSG_LEN = 90


def make_log(seed, n_records):
    """Build the log in memory.

    Returns a dict with per-record arrays (`partition`, `offset`, `value`
    bytes, `ok` flag, `id`, `msg`) plus `expected`: {id: msg} for the
    max-offset well-formed record of every id that has one.
    """
    rng = np.random.default_rng(seed)
    n_ids = max(1, n_records // RECORDS_PER_ID)
    n_hot = max(1, n_ids // 100)
    hot = rng.random(n_records) < HOT_FRAC
    idx = np.where(hot, rng.integers(0, n_hot, n_records),
                   rng.integers(0, n_ids, n_records))
    ids = (idx * 7 + 1).astype(np.int64)  # never 0, the parse default
    # Keyed producer: every record of one id lands in one partition, so the
    # highest offset of an id is unique, as on a keyed Kafka topic. Hot ids
    # are consecutive indexes, so they spread evenly and partition sizes
    # barely vary with the seed.
    parts = (idx % N_PARTITIONS).astype(np.int32)
    letters = rng.integers(97, 123, size=(n_records, MSG_LEN), dtype=np.uint8)
    msgs = letters.view(f"S{MSG_LEN}").ravel()
    corrupt = rng.random(n_records) < CORRUPT_FRAC
    corrupt_kind = rng.integers(0, 2, n_records)

    # per-partition offsets follow the global record order
    offsets = np.zeros(n_records, dtype=np.int64)
    for p in range(N_PARTITIONS):
        sel = parts == p
        offsets[sel] = np.arange(int(sel.sum()), dtype=np.int64)

    values = []
    for i in range(n_records):
        body = b'{"id":%d,"msg":"%s"}' % (ids[i], msgs[i])
        if corrupt[i]:
            # a truncated object, or text that is not JSON at all
            body = body[: 8 + (i % 16)] if corrupt_kind[i] == 0 else b"not json #%d" % i
        values.append(body)

    ok = ~corrupt
    # latest-wins: the last well-formed record of an id in global order has
    # its partition's highest offset (one partition per id)
    ok_pos = np.nonzero(ok)[0]
    rev = ok_pos[::-1]
    _, first = np.unique(ids[rev], return_index=True)
    winners = rev[first]
    expected = {int(ids[w]): msgs[w].decode("ascii") for w in winners}
    return {
        "partition": parts, "offset": offsets, "value": values,
        "ok": ok, "id": ids, "msg": msgs, "expected": expected,
    }


def log_counts(log):
    """The counts the engine's own counters must reproduce."""
    n = len(log["value"])
    corrupt = int(n - int(log["ok"].sum()))
    return {"records_in": n, "records_corrupt": corrupt,
            "keys_out": len(log["expected"])}


def write_kafka_parquet(log, out_dir):
    """One parquet file per partition, rows in offset order, with the Kafka
    source's `partition`, `offset` and binary `value` columns."""
    os.makedirs(out_dir, exist_ok=True)
    values = np.array(log["value"], dtype=object)
    for p in range(N_PARTITIONS):
        sel = np.nonzero(log["partition"] == p)[0]
        table = pa.table({
            "partition": pa.array(log["partition"][sel], pa.int32()),
            "offset": pa.array(log["offset"][sel], pa.int64()),
            "value": pa.array(list(values[sel]), pa.binary()),
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{p:03d}.parquet"))


def write_kafkalog(log, out_dir, segment_records=20000):
    """Write the log as `kafkalog` segments; returns the total segment bytes
    (the bytes a reader must touch at least once to admit every record)."""
    total = 0
    for p in range(N_PARTITIONS):
        pdir = os.path.join(out_dir, f"p={p}")
        os.makedirs(pdir, exist_ok=True)
        sel = np.nonzero(log["partition"] == p)[0]
        for s in range(0, len(sel), segment_records):
            chunk = sel[s:s + segment_records]
            lines = [b"%d\t%s\n" % (log["offset"][i], base64.b64encode(log["value"][i]))
                     for i in chunk]
            data = b"".join(lines)
            name = f"{int(log['offset'][chunk[0]]):020d}.log"
            with open(os.path.join(pdir, name), "wb") as f:
                f.write(data)
            total += len(data)
    return total


def snapshot_digest(pairs):
    """Order-independent digest of a set of (id, msg) records."""
    acc = 0
    for i, m in pairs:
        h = hashlib.blake2b(b"%d\t%s" % (i, m.encode("utf-8")), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
    return acc


# --------------------------------------------------------------------------
# query-suite tables

_VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark window line sort data column join small customer query order "
          "stream group filter vector big").split()
_ADJ = "small red blue hot cold big tiny green dark light".split()
_NOUN = "ring widget bolt gear nut screw plate valve pipe spring".split()


def _day_ts(base, days):
    return pa.array(np.datetime64(base, "us") + days.astype("timedelta64[D]"),
                    pa.timestamp("us"))


def write_tables(out_dir, seed=42, sf=0.01):
    """Write the ten query-suite tables as parquet under `out_dir`.

    Row counts scale with `sf` like the TPC-H tables they imitate (lineitem
    is about 6M x sf rows). Timestamps are plain microsecond timestamps
    without a zone.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    n_cust = max(50, int(150000 * sf))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})

    n_supp = max(10, int(10000 * sf))
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    n_part = max(100, int(200000 * sf))
    types = np.array(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])
    adj, noun = np.array(_ADJ), np.array(_NOUN)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 10, n_part)], " "),
                              noun[rng.integers(0, 10, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})

    n_ord = max(500, int(1500000 * sf))
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _day_ts("1995-01-01", odays),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - start + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _day_ts("1995-01-01", odays[okey] + rng.integers(1, 121, n_li))})

    n_ev = max(1000, int(1000000 * sf))
    n_users = max(20, int(15000 * sf))
    span_us = 30 * 86400 * 1000000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.0, 20.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = max(100, int(50000 * sf))
    vocab = np.array(_VOCAB)
    texts = []
    for d in range(n_doc):
        if d > 10 and rng.random() < 0.1:
            # near duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, d))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 81)))])
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_emb = max(200, int(20000 * sf))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

