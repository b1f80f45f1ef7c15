"""Seeded input generators for the three benchmark workloads.

Everything a run feeds the engine comes from here, so the same seed always
gives the same inputs:

- ``tables``: the star-schema + text corpus the 100 ``SparkEntry`` queries
  read (``region`` ... ``embeddings``), in the column layout of the engine's
  test corpus.  The query suite checks results against fingerprints recorded
  once, so its tables use one fixed data seed; the run seed only permutes the
  query order.
- ``dashboard_plan``: a Zipf-skewed click sequence over a grid-point pool,
  with one griddap CSV body per pool point and the rows, quality score, cache
  hit and nearby count each click must produce.
- ``stream_plan``: constant-size micro-batches of 70% fresh documents, 20%
  exact reposts and 10% near-duplicate edits, with the number of documents
  that must land.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_DATA_SEED = 42
TABLES_VERSION = 1

# Row counts at scale factor 1; each table is scaled linearly (min 1 row).
_SF1_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 100_000,
}
DOC_ROWS = 500
EMBED_ROWS = 500
EMBED_DIM = 64

WORDS = ["the", "data", "table", "scan", "sort", "hash", "join", "key", "row",
         "agg", "part", "line", "value", "query", "fast", "slow", "small",
         "big", "stream", "window", "filter", "batch", "merge", "order",
         "group", "column", "vector", "customer", "spark", "dup", "a"]


def table_rows(sf):
    return {t: max(1, int(round(n * sf))) for t, n in _SF1_ROWS.items()}


def _ts(days, unit="ms"):
    base = np.datetime64("1995-01-01", unit)
    return base + (days * {"ms": 86_400_000, "us": 86_400_000_000}[unit]).astype(np.int64)


def make_tables(sf, seed=TABLE_DATA_SEED):
    """All ten tables as pyarrow Tables, deterministic in (sf, seed)."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    adj = np.array(["cold", "small", "large", "shiny", "matte", "green", "heavy", "light"])
    noun = np.array(["widget", "bolt", "gear", "spring", "valve", "panel"])
    ptypes = np.array(["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 6, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 2000) / 10.0, 2)})
    no = n["orders"]
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 450000.0, no), 2),
        "o_orderdate": pa.array(_ts(rng.integers(0, span_days, no)), pa.timestamp("ms")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_ts(rng.integers(0, span_days, nl)), pa.timestamp("ms"))})
    ne = n["events"]
    gaps = rng.integers(1, 2_592_000_000_000 // max(ne, 1), ne)
    us = np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + us.astype(np.int64),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, ne // 60), ne, dtype=np.int64)),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.0, 200.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(k))])
             for k in rng.integers(8, 120, DOC_ROWS)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(DOC_ROWS, dtype=np.int64)),
        "text": texts,
        "lang": np.array(["en", "en", "en", "es", "fr", "de"])[rng.integers(0, 6, DOC_ROWS)],
        "source": np.char.add("src", rng.integers(0, 20, DOC_ROWS).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((EMBED_ROWS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(EMBED_ROWS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBED_ROWS, dtype=np.int32))})
    return out


def ensure_tables(work_dir, sf):
    """Write the tables once per (sf, version) under ``work_dir`` and return
    the directory.  Written to a temp dir and renamed, so a killed run never
    leaves a half-written table set behind."""
    final = os.path.join(work_dir, f"tables-sf{sf}-v{TABLES_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in make_tables(sf).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ---- query suite -----------------------------------------------------------

def query_order(names, seed):
    """The run's query order: a seed permutation of ``names``."""
    rng = np.random.default_rng([seed, 1])
    return [names[i] for i in rng.permutation(len(names))]


# ---- dashboard --------------------------------------------------------------

LAT_MIN, LAT_MAX, LON_MIN, LON_MAX, STEP = 10.0, 32.5, -85.0, -70.0, 0.25
N_COLS = 6  # time, depth, latitude, longitude, temperature, salinity
HIT_SHARE = 0.6  # share of clicks that repeat an earlier point (cache hits)
ZIPF_S = 1.1     # skew of the point draws


def pool_size_for_hits(clicks, hits):
    """Smallest pool whose expected distinct-point count under
    Zipf(``ZIPF_S``) draws reaches ``clicks - hits``."""
    for pool in range(2, 10 * clicks + 2):
        w = 1.0 / np.arange(1, pool + 1) ** ZIPF_S
        p = w / w.sum()
        if np.sum(1.0 - (1.0 - p) ** clicks) >= clicks - hits:
            return pool
    return 10 * clicks + 1


def _month_str(i):
    return f"{1955 + i // 12:04d}-{i % 12 + 1:02d}"


def _body(rng, lat, lon, m0, m1):
    """A griddap CSV body: names row, units row, one row per month, and a
    few malformed rows.  Returns the body with the row count and the
    non-null cell count the clean stage must leave."""
    lines = ["time,depth,latitude,longitude,Temperature,Salinity",
             "UTC,m,degrees_north,degrees_east,degree_C,PSU"]
    rows = []
    for m in range(m0, m1 + 1):
        rows.append(f"{_month_str(m)}-16T00:00:00Z,0.0,{lat},{lon},"
                    f"{rng.uniform(2.0, 30.0):.5f},{rng.uniform(30.0, 38.0):.5f}")
    kept, nonnull = len(rows), N_COLS * len(rows)
    # both measures unparseable: dropped by the how='all' null filter
    for _ in range(int(rng.integers(1, 3))):
        rows.append(f"{_month_str(m0)}-20T00:00:00Z,0.0,{lat},{lon},n/a,--")
    # one measure missing: kept, one null cell
    for _ in range(int(rng.integers(0, 3))):
        rows.append(f"{_month_str(m1)}-05T00:00:00Z,0.0,{lat},{lon},,{rng.uniform(30.0, 38.0):.5f}")
        kept, nonnull = kept + 1, nonnull + N_COLS - 1
    # unparseable time: kept, null time
    for _ in range(int(rng.integers(0, 2))):
        rows.append(f"not-a-date,0.0,{lat},{lon},{rng.uniform(2.0, 30.0):.5f},"
                    f"{rng.uniform(30.0, 38.0):.5f}")
        kept, nonnull = kept + 1, nonnull + N_COLS - 1
    order = rng.permutation(len(rows))
    lines += [rows[i] for i in order]
    return "\n".join(lines) + "\n", kept, nonnull


def snap(lat, lon):
    """The engine's grid snap (``graft.core.Grid.snap``): index = rint of the
    offset in 0.25 degree steps, clamped; latitude index 0 is 55N and the
    grid has 91 latitude and 61 longitude cells."""
    def clamp(v, lo, hi):
        return min(max(v, lo), hi)
    i = clamp(round((55.0 - clamp(lat, 10.0, 55.0)) / STEP), 0, 90)
    j = clamp(round((clamp(lon, -85.0, -70.0) + 85.0) / STEP), 0, 60)
    return 55.0 - i * STEP, -85.0 + j * STEP


def dashboard_plan(seed, clicks):
    """A sequence of ``clicks`` clicks on an empty cache, ``HIT_SHARE`` of
    them cache hits.  A pool point is a grid cell plus a date range; clicks
    request coordinates inside the cell."""
    rng = np.random.default_rng([seed, 2])
    hits = int(round(HIT_SHARE * clicks))
    pool = pool_size_for_hits(clicks, hits)
    n_lon = int(round((LON_MAX - LON_MIN) / STEP)) + 1
    points, keys = [], set()
    # pool cells come from a 3-degree longitude band so the nearby lookup
    # (0.5 degree box) finds neighbours
    lon0 = int(rng.integers(0, n_lon - 12))
    while len(points) < pool:
        lat = LAT_MIN + int(rng.integers(0, 91)) * STEP
        lon = LON_MIN + (lon0 + int(rng.integers(0, 12))) * STEP
        m0 = int(rng.integers(0, 60))
        m1 = int(min(71, m0 + rng.integers(6, 72)))
        key = (snap(lat, lon), m0, m1)
        if key in keys:
            continue
        keys.add(key)
        s_lat, s_lon = key[0]
        body, kept, nonnull = _body(rng, s_lat, s_lon, m0, m1)
        points.append({"lat": lat, "lon": lon, "snapped": [s_lat, s_lon],
                       "start": f"{_month_str(m0)}-01", "end": f"{_month_str(m1)}-28",
                       "body": body, "rows": kept,
                       "score": min(1.0, nonnull / (N_COLS * kept))})
    w = 1.0 / np.arange(1, pool + 1) ** ZIPF_S
    p = w / w.sum()
    # Zipf draws, kept only when exactly `hits` clicks repeat a point: with
    # a fixed hit share the median click is always a hit and the run-to-run
    # spread comes from the engine, not from the draw
    while True:
        draw = [int(k) for k in rng.choice(pool, size=clicks, p=p)]
        if clicks - len(set(draw)) == hits:
            break
    cached = set()
    seq = []
    for k in draw:
        pt = points[k]
        hit = k in cached
        cached.add(k)
        s_lat, s_lon = pt["snapped"]
        near = sum(1 for j in cached
                   if abs(points[j]["snapped"][0] - s_lat) < 0.5
                   and abs(points[j]["snapped"][1] - s_lon) < 0.5)
        # requested coordinates sit off the cell centre; the engine snaps
        lat = round(min(LAT_MAX, max(LAT_MIN, pt["lat"] + float(rng.uniform(-0.1, 0.1)))), 4)
        lon = round(min(LON_MAX, max(LON_MIN, pt["lon"] + float(rng.uniform(-0.1, 0.1)))), 4)
        assert snap(lat, lon) == (s_lat, s_lon)
        seq.append({"point": k, "lat": lat, "lon": lon, "hit": hit, "nearby": near})
    return {"pool": pool, "points": points, "clicks": seq}


# ---- streaming ingest --------------------------------------------------------

STREAM_VOCAB = 50_000
MINHASH_P = 1000003
MINHASH_A = (961748941, 982451653, 899809343, 472882027)
MINHASH_B = (101, 202, 303, 404)


def minhash_buckets(text):
    """The near-dup stage's band buckets of ``text``: MinHash over
    character 8-gram shingles (md5 prefix mod P, four permutations), two
    bands of two values (``graft.functions.MinHashSigs``,
    ``NearDupIncremental.bucketsFromSigs``)."""
    n = max(1, len(text) - 7)
    h = np.array([int.from_bytes(hashlib.md5(text[i:i + 8].encode()).digest()[:4], "big")
                  for i in range(n)], dtype=np.int64) % MINHASH_P
    sig = [int(((h * a + b) % MINHASH_P).min()) for a, b in zip(MINHASH_A, MINHASH_B)]
    return {(1, sig[0], sig[1]), (2, sig[2], sig[3])}


def stream_plan(seed, batches, batch_size, lead_in=(), doc_words=60):
    """``lead_in`` batches of the given sizes, then ``batches`` micro-batches
    of ``batch_size`` documents: 70% fresh documents, 20% exact reposts and
    10% near-duplicate edits (one word appended) of earlier fresh ones.

    Near-duplicate detection is probabilistic, so the generator makes the
    expected outcome exact: a fresh document shares no band bucket with any
    earlier document, and an edit is re-drawn until it shares one with its
    source.  Exactly the fresh documents (``fresh_ids``) must land."""
    rng = np.random.default_rng([seed, 3])
    taken = set()          # band buckets of every document emitted so far
    sent, out, exact_ids, fresh_ids = [], [], [], []
    next_id = 0
    for size in list(lead_in) + [batch_size] * batches:
        docs = []
        for _ in range(size):
            next_id += 1
            roll = int(rng.integers(0, 10))
            if roll < 7 or not sent:
                while True:
                    text = " ".join(f"w{i}" for i in rng.integers(0, STREAM_VOCAB, doc_words))
                    bk = minhash_buckets(text)
                    if not bk & taken:
                        break
                sent.append((text, bk))
                fresh_ids.append(next_id)
            elif roll < 9:
                text, bk = sent[int(rng.integers(0, len(sent)))]
                exact_ids.append(next_id)
            else:
                # re-drawing the source too: some texts' buckets break for
                # every short tail
                while True:
                    src, src_bk = sent[int(rng.integers(0, len(sent)))]
                    text = f"{src} w{int(rng.integers(0, STREAM_VOCAB))}"
                    bk = minhash_buckets(text)
                    if bk & src_bk:
                        break
            taken |= bk
            docs.append([next_id, text])
        out.append(docs)
    input_bytes = sum(len(t.encode()) for b in out for _, t in b)
    return {"batches": out, "lead_in": len(lead_in), "fresh_ids": fresh_ids,
            "exact_repost_ids": exact_ids, "input_bytes": input_bytes}


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
