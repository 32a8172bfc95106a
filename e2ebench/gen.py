"""Seeded inputs for the benchmark.

Writes `events`, `embeddings`, `documents` and `customer` parquet files
with the schemas and value domains of the repo's test fixtures
(FIXTURES.md), and the arrival order `event_stream` replays. Every size is
fixed; the seed changes only values (a loop's round count can still
differ by seed).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = 5_000           # rows in `events` (30 days of event time)
USERS = 150              # distinct user_id values
SESSIONS = 1_000         # user sessions the events fall into
SESSION_US = 20 * 60 * 1_000_000  # a session's events lie within its first 20 minutes
EMBEDDINGS = 100         # rows in `embeddings` (dim 64, 10 labels)
DOCUMENTS = 200          # rows in `documents`
NEAR_DUP_SHARE = 0.4     # documents that copy an earlier one with 1-2 tokens changed
CUSTOMERS = 500          # rows in `customer`

# event_stream arrival model
STREAM_EVENTS = 3_000    # the first arrivals, replayed as the stream
BATCH_EVENTS = 1_500     # events per micro-batch
DISORDER_S = 300         # on-time events arrive up to 5 min after their ts
LATE_SHARE = 0.02        # events held back past the 10 min watermark
LATE_DELAY_S = (3 * 86_400, 6 * 86_400)  # how long a late event is held

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = ("the fast key order sort table scan merge part window small hash join batch "
         "stream state event time late early pane slide count sum value user store "
         "query plan shuffle task stage job round graph node edge rank core").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000


def events(rng):
    """Events come in user sessions: each event belongs to one of
    `SESSIONS` seeded sessions (a user and a start time in the 30 days)
    and lies at a uniform offset within the session's first 20 minutes.
    `event_id` follows `ts`."""
    user = rng.integers(0, USERS, SESSIONS)
    start = T0_US + rng.integers(0, SPAN_US, SESSIONS)
    sess = rng.integers(0, SESSIONS, EVENTS)
    ts = start[sess] + rng.integers(0, SESSION_US, EVENTS)
    order = np.argsort(ts, kind="stable")
    return {
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": ts[order],
        "user_id": user[sess][order].astype(np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), EVENTS),
        # cents >= 1, so every value is a positive 2-decimal amount
        "cents": np.maximum(1, np.round(rng.exponential(5_000, EVENTS))).astype(np.int64),
        "k": rng.integers(0, 100, EVENTS),
    }


def arrival(rng, ev):
    """Arrival order: bounded disorder for most events, a long hold-back
    for a seeded share, so that those arrive after the watermark passed."""
    n = len(ev["ts"])
    delay = rng.integers(0, DISORDER_S * 1_000_000, n)
    late = rng.random(n) < LATE_SHARE
    delay[late] = rng.integers(LATE_DELAY_S[0] * 1_000_000,
                               LATE_DELAY_S[1] * 1_000_000, int(late.sum()))
    return np.lexsort((ev["event_id"], ev["ts"] + delay))


def embeddings(rng):
    vecs = rng.normal(0.0, 0.125, (EMBEDDINGS, 64)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS), pa.int32()),
    })


def documents(rng):
    """Space-separated tokens from a small vocabulary; a seeded share of
    documents are near-duplicates of an earlier original (not of another
    copy, so that clusters stay shallow)."""
    texts, originals = [], []
    for i in range(DOCUMENTS):
        if originals and rng.random() < NEAR_DUP_SHARE:
            toks = originals[rng.integers(0, len(originals))].split()
            for _ in range(rng.integers(1, 3)):
                toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(20, 70))]
            originals.append(" ".join(toks))
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), DOCUMENTS)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def customer(rng):
    """Names are `Customer#` and a seeded 9-digit number from a range twice
    the table's size, so many names lie one edit apart."""
    num = rng.choice(np.arange(1, 2 * CUSTOMERS + 1), CUSTOMERS, replace=False)
    return pa.table({
        "c_custkey": pa.array(np.arange(1, CUSTOMERS + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{n:09d}" for n in num]),
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, CUSTOMERS) / 100.0, pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, CUSTOMERS)]),
    })


def generate(seed, out_dir):
    """Writes the inputs for `seed` into `out_dir`, unless inputs of the
    same seed and sizes are there already."""
    meta = {"seed": seed, "events": EVENTS, "sessions": SESSIONS, "embeddings": EMBEDDINGS,
            "documents": DOCUMENTS,
            "customer": CUSTOMERS, "stream_events": STREAM_EVENTS,
            "batch_events": BATCH_EVENTS, "late_share": LATE_SHARE}
    done = os.path.join(out_dir, "inputs.json")
    if os.path.exists(done):
        with open(done) as f:
            if json.load(f) == meta:
                return meta
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ev = events(rng)
    table = pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in ev["event_type"]]),
        "value": pa.array(ev["cents"] / 100.0, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]]),
    })
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    order = arrival(rng, ev)
    pq.write_table(pa.table({"event_id": pa.array(order.astype(np.int64))}),
                   os.path.join(out_dir, "arrival.parquet"))
    pq.write_table(embeddings(rng), os.path.join(out_dir, "embeddings.parquet"))
    pq.write_table(documents(rng), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(customer(rng), os.path.join(out_dir, "customer.parquet"))
    with open(done, "w") as f:
        json.dump(meta, f)
    return meta
