"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of (seed, scale):

* `write_tables` writes the ten parquet tables the analytics queries read
  (region nation customer supplier part orders lineitem events documents
  embeddings). Schemas, value domains and row counts per scale factor
  follow the repository's TPC-H-style test data, so every query runs
  unchanged on them.
* `cdc_stream` builds a deterministic change stream from generated orders
  and lineitem rows: one insert per order, one update per lineitem row,
  deletes for a seeded share of orders, and every 37th record delivered a
  second time, late. `write_files` lands it as JSON-lines files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

US_PER_DAY = 86_400_000_000


def _days(start, end):
    return ((np.datetime64(end) - np.datetime64(start))
            .astype("timedelta64[D]").astype(np.int64))


def _ts_us(start, day_offsets):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + day_offsets.astype(np.int64) * US_PER_DAY,
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(seed, sf):
    """The ten tables at scale factor `sf`, as pyarrow Tables."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    odays = _days("1995-01-01", "2001-08-01")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, odays + 1, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    ldays = _days("1995-01-02", "2001-11-04")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, ldays + 1, n_line))})
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_base + ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup queries'
            # positives
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    cents = rng.normal(0.0, 0.02, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = cents[labels] + rng.normal(0.0, 0.125, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---- CDC change stream -------------------------------------------------

CDC_BASE_MS = int(np.datetime64("2024-03-01", "ms").astype(np.int64))


def cdc_stream(seed, n_orders, n_lines, delete_share=0.03):
    """Change records in commit order, as a dict of numpy columns.

    Keys are order keys (the CDC model's `user_id`). Inserts come from
    orders, updates from lineitem rows (keyed by their order), and a
    seeded `delete_share` of orders get a delete (event_type "error",
    the CDC model's DELETE). `event_id` is the commit sequence and `ts`
    advances 1 ms per record, so (ts, event_id) orders the stream."""
    rng = np.random.default_rng([seed, 1])
    n_del = int(n_orders * delete_share)
    user = np.concatenate([
        np.arange(n_orders),
        rng.integers(0, n_orders, n_lines),
        rng.choice(n_orders, n_del, replace=False)]).astype(np.int64)
    kind = np.concatenate([
        np.zeros(n_orders, np.int8), np.ones(n_lines, np.int8),
        np.full(n_del, 2, np.int8)])
    value = np.concatenate([
        _money(rng, 1000.0, 500000.0, n_orders),
        _money(rng, 900.0, 105000.0, n_lines),
        np.zeros(n_del)])
    # inserts lean early, deletes late, updates anywhere
    pos = np.concatenate([
        rng.uniform(0.0, 0.6, n_orders), rng.uniform(0.0, 1.0, n_lines),
        rng.uniform(0.4, 1.0, n_del)])
    order = np.argsort(pos, kind="stable")
    n = len(order)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_ms": CDC_BASE_MS + np.arange(n, dtype=np.int64),
        "user_id": user[order],
        "kind": kind[order],
        "value": value[order],
    }


KIND_TABLE = ["orders", "lineitem", "orders"]
KIND_TYPE = ["insert", "update", "error"]


def _lines(s, idx):
    idx = np.asarray(idx, dtype=np.int64)
    ts = np.datetime_as_string(s["ts_ms"][idx].astype("datetime64[ms]"), unit="ms")
    return [f'{{"table":"{KIND_TABLE[k]}","event_id":{e},"ts":"{t}Z",'
            f'"user_id":{u},"event_type":"{KIND_TYPE[k]}","value":{v!r}}}'
            for k, e, t, u, v in zip(s["kind"][idx].tolist(), s["event_id"][idx].tolist(),
                                     ts, s["user_id"][idx].tolist(), s["value"][idx].tolist())]


def delivery_plan(n_records, n_backlog, backlog_file_rows, n_tail_files,
                  head_files=0, head_file_rows=1, late_files=5):
    """Record indices per file, in landing order: (backlog, tail).

    The backlog's first `head_files` files carry `head_file_rows` records
    each, the rest `backlog_file_rows`. Every 37th record is delivered
    twice. A backlog record's second copy arrives after the whole backlog;
    a tail record's second copy arrives `late_files` files after its
    original (the last file at the end)."""
    backlog = list(range(n_backlog))
    backlog += [i for i in range(n_backlog) if i % 37 == 0]
    head = head_files * head_file_rows
    bfiles = ([backlog[i:i + head_file_rows] for i in range(0, head, head_file_rows)]
              + [backlog[i:i + backlog_file_rows]
                 for i in range(head, len(backlog), backlog_file_rows)])
    tail_ids = np.arange(n_backlog, n_records)
    tfiles = [list(c) for c in np.array_split(tail_ids, n_tail_files)]
    for f, chunk in enumerate(list(tfiles)):
        late = min(f + late_files, n_tail_files - 1)
        tfiles[late] = tfiles[late] + [i for i in chunk if i % 37 == 0]
    return bfiles, tfiles


def write_files(stream, files, out_dir, prefix):
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for f, idx in enumerate(files):
        name = f"{prefix}-{f:05d}.json"
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("\n".join(_lines(stream, idx)) + "\n")
        names.append(name)
    return names


def latest_per_key(stream):
    """Independent fold: the live rows after applying every record.

    Returns {user_id: (event_id, ts_ms, value)} for keys whose latest
    record by (ts, event_id) is not a delete. Redelivered copies are
    identical to their originals, so the fold over distinct records is
    the expected table whatever order they arrive in."""
    ts, eid, user = stream["ts_ms"], stream["event_id"], stream["user_id"]
    order = np.lexsort((eid, ts, user))
    last = np.ones(len(order), bool)
    last[:-1] = user[order][1:] != user[order][:-1]
    keep = order[last]
    keep = keep[stream["kind"][keep] != 2]
    return {int(user[i]): (int(eid[i]), int(ts[i]), float(stream["value"][i]))
            for i in keep}
