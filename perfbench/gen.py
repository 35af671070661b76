"""Seeded inputs: the events series, the TSQL statement streams and the
batch-fleet fixture. The same seed gives byte-identical inputs."""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = 1_000_000_000
DAY = 86_400 * NS
HOUR = 3_600 * NS
MINUTE = 60 * NS
START_NS = 1_704_067_200 * NS  # 2024-01-01T00:00:00Z
EVENTS_DAYS = 30
EVENTS_POINTS = 100_000  # the sf0.1 events table: 100k points over 30 days
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
READ_TYPES = ("point", "scan", "agg", "sample")
AGG_FNS = ("min", "max", "avg", "latest")
DB = "bench"
SERIES = "events"

# tsql_ingest: 15-point INSERTs, timestamps 1 s apart, written from
# 2024-03-01; the whole run stays inside 32 buckets of 900 s
INGEST_START_NS = 1_709_251_200 * NS
INGEST_POINTS = 15
INGEST_SERIES = (("w_insert", "insert"), ("w_ignore", "ignore"))
RESEND_SHARE = 0.25  # share of `ignore` INSERTs that re-send timestamps
READ_EVERY = 10  # about one recent-window read per this many INSERTs


def rng_for(seed, *parts):
    return random.Random(":".join(str(p) for p in (seed,) + parts))


def events(seed, span_ns=EVENTS_DAYS * DAY):
    """(timestamp ns, value) of the events series: distinct, sorted
    microsecond timestamps over 30 days and two-decimal values, shaped
    like the sf0.1 `events` table; its first `span_ns` nanoseconds."""
    ts, values = _month(seed)
    keep = ts < START_NS + span_ns
    return ts[keep], values[keep]


def _month(seed):
    rng = np.random.default_rng([seed, 1])
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    us = np.sort(rng.integers(0, span_us - EVENTS_POINTS, EVENTS_POINTS))
    us = us + np.arange(EVENTS_POINTS)  # strictly increasing
    ts = START_NS + us * 1000
    values = np.round(np.minimum(rng.gamma(2.0, 30.0, EVENTS_POINTS), 999.0), 2)
    return ts.astype(np.int64), values


def write_points(path, ts, values):
    pq.write_table(pa.table({"timestamp": pa.array(ts, pa.int64()),
                             "value": pa.array(values, pa.float64())}), path)


def read_stream(seed, conn, count, span_ns):
    """`count` read statements for one connection over a series of
    `span_ns`, as (type, sql, spec) with spec = (fn, t0, t1, sample_ns):
    the four types in seeded order, each type once per block of four.
    A point read covers a minute, an aggregate a quarter of the series
    (at most a day), a scan three quarters of it (at most a day; more
    than one 1000-record batch, so it streams), and SAMPLE BY the whole
    series (at most a week) in 1 h windows."""
    rng = rng_for(seed, "read", conn)
    end = START_NS + span_ns
    windows = {"point": MINUTE, "agg": min(DAY, span_ns // 4),
               "scan": min(DAY, span_ns * 3 // 4), "sample": min(7 * DAY, span_ns)}
    out = []
    while len(out) < count:
        block = list(READ_TYPES)
        rng.shuffle(block)
        for kind in block:
            t0 = rng.randrange(START_NS, end - windows[kind] + 1)
            t1 = t0 + windows[kind]
            fn = rng.choice(AGG_FNS) if kind == "agg" else None
            sample = HOUR if kind == "sample" else None
            col = f"{fn}(value)" if fn else "value"
            sql = f"SELECT {col} FROM {SERIES} BETWEEN {t0} AND {t1}"
            if sample:
                sql += " SAMPLE BY 1h"
            out.append((kind, sql, (fn, t0, t1, sample)))
    return out[:count]


def ingest_stream(seed, conn, inserts):
    """The statements of one ingest connection: `inserts` 15-point
    INSERTs into the connection's own series, and after about one in
    READ_EVERY of them a read of the just-written window. Each item is
    (kind, sql, payload): for an insert the payload is the list of
    (ts, value) sent and how many of them are re-sent timestamps."""
    name, policy = INGEST_SERIES[conn]
    rng = rng_for(seed, "ingest", conn)
    base = INGEST_START_NS + conn * 7 * NS  # the two series interleave
    out, prev, nxt = [], [], 0
    for _ in range(inserts):
        resent = []
        if policy == "ignore" and prev and rng.random() < RESEND_SHARE:
            resent = rng.sample(prev, rng.randint(1, 5))
        fresh = []
        for _ in range(INGEST_POINTS - len(resent)):
            fresh.append(base + nxt * NS)
            nxt += 1
        pts = [(t, round(rng.uniform(0, 999), 2)) for t in sorted(resent + fresh)]
        prev = fresh
        body = ", ".join(f"({t}, {v:.2f})" for t, v in pts)
        out.append(("insert", f"INSERT INTO {name} VALUES {body}", (pts, len(resent))))
        if rng.randrange(READ_EVERY) == 0:
            last = base + (nxt - 1) * NS
            if rng.random() < 0.5:
                out.append(("latest", f"SELECT latest(value) FROM {name}", None))
            else:
                out.append(("point", f"SELECT value FROM {name} BETWEEN {last - MINUTE}"
                                     f" AND {last}", (last - MINUTE, last)))
    return out


def fleet_fixture(seed, out_dir):
    """The tables the batch fleet reads, at sf0.1 shape: `events`
    (100k rows), `documents` (5000 docs with planted exact duplicates)
    and `region`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    ts, values = events(seed)
    n = len(ts)
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts // 1000, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array(values, pa.float64()),
        "props": pa.array(props, pa.string()),
    }), os.path.join(out_dir, "events.parquet"))

    vocab = ("a agg batch big column customer data dup fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream table "
             "the value vector window").split()
    langs, lang_w = ["en", "zh", "es", "fr", "de"], [0.412, 0.151, 0.149, 0.148, 0.140]
    r = rng_for(seed, "documents")
    texts, lang, source = [], [], []
    for i in range(5000):
        texts.append(" ".join(r.choices(vocab, k=r.randint(10, 100))))
        lang.append(r.choices(langs, weights=lang_w)[0])
        source.append(f"src{i % 20}")
    for p in range(8):  # planted exact-duplicate pairs
        j = p * 625 + 1
        texts[j] = texts[j - 1]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(5000), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    }), os.path.join(out_dir, "region.parquet"))
