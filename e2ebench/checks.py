"""Correctness checks on the outputs of one run, outside the timed region.

Declared keys are compared with DuckDB running the key's declared oracle
SQL (`SparkEntry.oracleSql`) over the same parquet inputs, the harness's
own calls with DuckDB running the program's oracle generator for the same
parameters or the benchmark's own SQL, and loop outputs are also checked
by property. The event stream is checked against the benchmark's own
watermark model of the seeded arrival order and against DuckDB over the
events that model keeps. Each check returns a list of problems; an empty
list means the output is correct. The functions take plain rows so that
`selftest.py` can feed them corrupted outputs.
"""
import decimal
import glob
import json
import math
import os
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import workloads

TABLES = ["events", "embeddings", "documents", "customer"]
US = 1_000_000
WM_DELAY_US = 10 * 60 * US      # every stream operator's watermark delay
PANE_US = 30 * 60 * US          # paneTwoLevel's pane size
TRIGGER_IDLE_US = 30 * 60 * US  # customTrigger's inactivity timeout


# ---------------------------------------------------------------- helpers

def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(v):
    """Type-strict value for exact comparison: 5 and 5.0 differ."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, norm(x)) for k, x in v.items())))
    return ("s", v)


def type_class(t):
    if pa.types.is_integer(t):
        return str(t)
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_class(t.value_type)}>"
    return str(t)


class Result:
    """A relation as columns, column type classes and rows."""

    def __init__(self, cols, types, rows):
        self.cols, self.types, self.rows = list(cols), list(types), list(rows)

    def by_name(self):
        order = sorted(range(len(self.cols)), key=lambda i: self.cols[i])
        return ([self.cols[i] for i in order], [self.types[i] for i in order],
                [tuple(norm(r[i]) for i in order) for r in self.rows])

    def dicts(self):
        return [dict(zip(self.cols, r)) for r in self.rows]


def query(con, sql):
    rel = con.sql(sql)
    tbl = rel.arrow()
    cols = tbl.column_names
    return Result(cols, [type_class(f.type) for f in tbl.schema],
                  zip(*[tbl.column(c).to_pylist() for c in cols]) if cols else [])


def read_output(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return query(con, f"SELECT * FROM read_parquet({files!r})")


def compare(name, got, want):
    """Exact multiset equality of two relations, columns matched by name."""
    if got is None:
        return [f"{name}: no output"]
    gc, gt, gr = got.by_name()
    wc, wt, wr = want.by_name()
    if gc != wc:
        return [f"{name}: columns {gc} != expected {wc}"]
    if gt != wt:
        return [f"{name}: column types {list(zip(gc, gt))} != expected {list(zip(wc, wt))}"]
    g, w = Counter(gr), Counter(wr)
    if g == w:
        return []
    extra, missing = g - w, w - g
    return [f"{name}: {len(gr)} rows vs {len(wr)} expected; {sum(missing.values())} missing "
            f"(e.g. {next(iter(missing), None)}), {sum(extra.values())} unexpected "
            f"(e.g. {next(iter(extra), None)})"]


# ------------------------------------------------------------ operations

# The benchmark's own oracle of the large-ratio sliding window pair: every
# event lands in the `SLOTS` windows whose start, a multiple of the slide
# since the epoch, lies in (ts - size, ts].
SLIDE_US = workloads.WINDOW_SLIDE_MIN * 60 * US
SLOTS = workloads.WINDOW_SLOTS
SLIDING_SQL = f"""
WITH e AS (SELECT event_type, value, epoch_us(ts::TIMESTAMP) AS us FROM events),
w AS (SELECT event_type, value,
             unnest(range(us // {SLIDE_US} - {SLOTS - 1}, us // {SLIDE_US} + 1)) AS k FROM e)
SELECT make_timestamp(k * {SLIDE_US}) AS window_start,
       make_timestamp(k * {SLIDE_US} + {SLOTS * SLIDE_US}) AS window_end,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12, 2))) AS DOUBLE) AS sum_value
FROM w GROUP BY ALL"""

# `tables_scan` reads `events` through `graft.Tables`: the same rows, with
# `ts` as an instant in UTC.
SCAN_SQL = "SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events"


def shingle_set(text, n=3):
    """The 3-token shingles `Dedup.jaccardPairs` compares."""
    tk = text.split(" ")
    return {" ".join(tk[i:i + n]) for i in range(max(len(tk) - n + 1, 1))}


def check_clusters(name, rows, docs, threshold=0.7):
    """Every pair of documents whose shingle-set Jaccard reaches the
    threshold lies in one cluster, and every cluster id is the smallest
    document id of its cluster, with the cluster's size."""
    label = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in rows}
    if sorted(label) != sorted(d for d, _ in docs):
        return [f"{name}: {len(label)} documents labelled, {len(docs)} in the input"]
    sh = [(d, shingle_set(t)) for d, t in docs]
    split = [(a, b) for i, (a, sa) in enumerate(sh) for b, sb in sh[i + 1:]
             if len(sa & sb) / len(sa | sb) >= threshold and label[a][0] != label[b][0]]
    members = defaultdict(list)
    for d, (c, _) in label.items():
        members[c].append(d)
    wrong = [c for c, ds in members.items()
             if min(ds) != c or any(label[d][1] != len(ds) for d in ds)]
    problems = []
    if split:
        problems.append(f"{name}: {len(split)} near-duplicate pairs split across clusters, "
                        f"e.g. {split[0]}")
    if wrong:
        problems.append(f"{name}: {len(wrong)} clusters whose id is not their smallest member "
                        f"or whose size is wrong, e.g. {wrong[0]}")
    return problems


def check_kcore(name, layers, edges, k):
    """Every member of the k-core (layer 0) has at least k neighbours in it."""
    core = {r["vec_id"] for r in layers if r["layer"] == 0}
    nbrs = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    bad = [v for v in core if len(nbrs[v] & core) < k]
    return [f"{name}: {len(bad)} core members with fewer than {k} core neighbours, "
            f"e.g. {bad[0]}"] if bad else []


# Oracles DuckDB runs faster without its optimizer, with the same result:
# graph_kcore's unrolled peel spends 4.6 of its 8 s in the optimizer.
UNOPTIMIZED = {"graph_kcore"}


def run_oracle(data_dir, key, sql):
    con = connect(data_dir)
    if key in UNOPTIMIZED:
        con.execute("PRAGMA disable_optimizer")
    return query(con, sql)


def op_oracles(h):
    """Oracle SQL of every operation: the declared keys' and the program's
    generated ones the harness wrote, and the benchmark's own."""
    return dict(h["oracle_sql"], windows_sliding=SLIDING_SQL, windows_panes=SLIDING_SQL,
                tables_scan=SCAN_SQL)


def check_ops(data_dir, out_dir, h, ops, failed):
    con = connect(data_dir)
    oracles = op_oracles(h)
    problems = []
    outs = {}
    # the oracles run at once, each on its own connection
    with ThreadPoolExecutor(4) as pool:
        want = {k: pool.submit(run_oracle, data_dir, k, oracles[k])
                for k in ops if k not in failed and k in oracles}
        for k in ops:
            if k in failed:
                continue
            outs[k] = read_output(con, os.path.join(out_dir, "keys", k))
            if outs[k] is None or not outs[k].rows:
                problems.append(f"{k}: no output")
                outs.pop(k)
            elif k in want:
                problems += compare(k, outs[k], want[k].result())
            else:
                problems.append(f"{k}: no oracle SQL")
    if "graph_kcore" in outs:
        edges = con.execute(f"SELECT src_id, neighbor_id FROM ({oracles['sim_knn_graph_capped']})")
        problems += check_kcore("graph_kcore", outs["graph_kcore"].dicts(), edges.fetchall(), 6)
    if "dedup_clusters" in outs:
        docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
        problems += check_clusters("dedup_clusters", outs["dedup_clusters"].dicts(), docs)
    if "windows_sliding" in outs and "windows_panes" in outs:
        problems += compare("windows_panes vs windows_sliding", outs["windows_panes"],
                            outs["windows_sliding"])
    return problems


# ------------------------------------------------------------ event stream

class StreamModel:
    """The watermark model of the seeded arrival order.

    The stream is the first `stream_events` arrivals; batch k is its k-th
    slice of `batch_events` events. Spark's watermark (milliseconds) in
    batch k is the largest event time of batches 0..k-1, truncated to the
    millisecond, minus the 10 minute delay, and 0 before any data. When a
    batch moves the watermark, Spark runs one more batch without data at
    the new watermark, before the next data arrives; so rows are dropped
    as late in batch k when they fall at or before the batch's watermark,
    and after the last batch the final watermark closes windows."""

    def __init__(self, data_dir, stream_events, batch_events):
        t = pq.read_table(os.path.join(data_dir, "events.parquet"))
        t = t.set_column(t.schema.get_field_index("ts"), "ts_us", t.column("ts").cast(pa.int64()))
        self.events = {r["event_id"]: r for r in t.to_pylist()}
        order = pq.read_table(os.path.join(data_dir, "arrival.parquet")).column(0).to_pylist()
        order = order[:stream_events]
        self.batches = [order[i:i + batch_events] for i in range(0, len(order), batch_events)]
        self.wm = []
        wm, mx = 0, None
        for b in self.batches:
            self.wm.append(wm)
            bm = max(self.events[e]["ts_us"] for e in b)
            mx = bm if mx is None else max(mx, bm)
            wm = max(wm, mx // 1000 * 1000 - WM_DELAY_US)
        self.final_wm = wm
        self.fed = len(order)

    def kept(self, late):
        dropped = {e for lb in late for e in lb}
        return [e for b in self.batches for e in b if e not in dropped]

    def late(self, rule):
        """Per batch, the events the operator drops under `rule`
        (ts_us, wm_us) -> bool."""
        return [[e for e in b if rule(self.events[e]["ts_us"], w)]
                for b, w in zip(self.batches, self.wm)]


def window_end(ts, size):
    return ts - ts % size + size


# The late-row rule of each operator: the row, or the pane it falls
# into, ends at or before the watermark.
LATE_RULES = {
    "panes": lambda ts, wm: window_end(ts, PANE_US) <= wm,
    "trigger_fmgws": lambda ts, wm: ts <= wm,
    "trigger_tws": lambda ts, wm: ts <= wm,
}


def expected_drops(model, op, late):
    """Rows Spark's stateful operators count as dropped, per batch. The
    pane aggregation drops partial aggregates (one per late pane and event
    type of the batch's single input partition), the others drop input
    rows."""
    out = []
    for lb in late:
        if op == "panes":
            out.append(len({(window_end(model.events[e]["ts_us"], PANE_US),
                             model.events[e]["event_type"]) for e in lb}))
        else:
            out.append(len(lb))
    return out


def progress_batches(progress):
    """Spark progress of the batches that ran (idle reports have no
    addBatch duration), in batch order."""
    ran = {p["batchId"]: p for p in progress if "addBatch" in p.get("durationMs", {})}
    return [ran[b] for b in sorted(ran)]


def wm_us(p):
    s = p.get("eventTime", {}).get("watermark")
    if not s:
        return 0
    t = datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(t.timestamp()) * US + t.microsecond


def check_progress(op, model, progress, drops):
    """Watermark and drop accounting of one query against the model."""
    problems = []
    pb = progress_batches(progress)
    wms = [wm_us(p) for p in pb]
    if any(b < a for a, b in zip(wms, wms[1:])):
        problems.append(f"{op}: the watermark moved backwards: {wms}")
    data = [p for p in pb if p["numInputRows"] > 0]
    if [p["numInputRows"] for p in data] != [len(b) for b in model.batches]:
        problems.append(f"{op}: batch sizes {[p['numInputRows'] for p in data]} != fed "
                        f"{[len(b) for b in model.batches]}")
        return problems
    got_wm = [wm_us(p) for p in data]
    if got_wm != model.wm:
        problems.append(f"{op}: data-batch watermarks {got_wm} != model {model.wm}")
    if wms and wms[-1] != model.final_wm:
        problems.append(f"{op}: final watermark {wms[-1]} != model {model.final_wm}")
    got = [sum(s.get("numRowsDroppedByWatermark", 0) for s in p["stateOperators"])
           for p in data]
    if got != drops:
        problems.append(f"{op}: numRowsDroppedByWatermark per batch {got} != model {drops}")
    nodata_drops = sum(s.get("numRowsDroppedByWatermark", 0)
                       for p in pb if p["numInputRows"] == 0 for s in p["stateOperators"])
    if nodata_drops:
        problems.append(f"{op}: {nodata_drops} rows dropped in batches without data")
    return problems


def trigger_timeouts(model, late):
    """Timeout rows of the custom trigger under the model: a user's state
    times out once a watermark passes its last event time (ms) plus 30
    minutes, in the batch without data that runs at that watermark,
    before the next data. Returns the timeout rows and the events still
    held in open state."""
    dropped = {e for lb in late for e in lb}
    state = {}
    rows = []

    def expire(wm):
        for u in [u for u, s in state.items() if s[2] + TRIGGER_IDLE_US < wm]:
            n, cents, _ = state.pop(u)
            rows.append((u, n, cents, "timeout"))

    for b, wm in zip(model.batches, model.wm):
        expire(wm)
        for e in b:
            if e in dropped:
                continue
            r = model.events[e]
            n, cents, mx = state.get(r["user_id"], (0, 0, -1))
            state[r["user_id"]] = (n + 1, cents + round(r["value"] * 100),
                                   max(mx, r["ts_us"] // 1000 * 1000))
    expire(model.final_wm)
    return rows, sum(s[0] for s in state.values())


def on_time_view(con, model, late):
    """Points the `events` view at the events the operator keeps."""
    kept_ids = pa.table({"event_id": pa.array(model.kept(late), pa.int64())})
    con.register("kept_ids", kept_ids)
    con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM all_events "
                "WHERE event_id IN (SELECT event_id FROM kept_ids)")


def check_stream_op(op, model, outputs, progress, con, oracles, late=None):
    """Drop accounting, watermark, and output of one operator. The pane
    windows are compared with DuckDB running the `stream_pane_twolevel`
    oracle over the events the operator keeps, limited to the windows the
    final watermark closed (append mode emits a window once the watermark
    passes its end); the custom triggers with the model's timeout rows,
    plus conservation: events emitted at timeout + dropped + still open =
    fed."""
    late = late if late is not None else model.late(LATE_RULES[op])
    problems = check_progress(op, model, progress, expected_drops(model, op, late))
    if op == "panes":
        on_time_view(con, model, late)
        want = query(con, f"SELECT * FROM ({oracles['stream_pane_twolevel']}) "
                          f"WHERE window_end <= make_timestamp({model.final_wm})")
        return problems + compare(f"stream {op}", outputs, want)
    timeouts = [r for r in outputs.dicts() if r["emit_kind"] == "timeout"]
    want, still_open = trigger_timeouts(model, late)
    got = [(r["user_id"], r["n_events"], round(r["sum_value"] * 100), r["emit_kind"])
           for r in timeouts]
    if sorted(got) != sorted(want):
        problems.append(f"stream {op}: {len(got)} timeout rows vs {len(want)} in the model, "
                        f"{len(set(got) ^ set(want))} differ")
    emitted, n_late = sum(r["n_events"] for r in timeouts), sum(len(lb) for lb in late)
    if emitted + n_late + still_open != model.fed:
        problems.append(f"stream {op}: emitted {emitted} + dropped {n_late} + open {still_open} "
                        f"!= fed {model.fed}")
    return problems


STREAM_OPS = ["panes", "trigger_fmgws", "trigger_tws"]


def load_stream(con, out_dir, op):
    out = read_output(con, os.path.join(out_dir, "stream", op))
    if out is None:
        out = Result([], [], [])
    with open(os.path.join(out_dir, "stream", f"{op}.progress.json")) as f:
        progress = json.load(f)
    return out, progress


def check_stream(data_dir, out_dir, h):
    model = StreamModel(data_dir, gen.STREAM_EVENTS, gen.BATCH_EVENTS)
    con = connect(data_dir)
    con.execute("CREATE VIEW all_events AS SELECT * FROM read_parquet("
                f"'{os.path.join(data_dir, 'events.parquet')}')")
    con.execute("DROP VIEW events")
    problems = []
    loaded = {op: load_stream(con, out_dir, op) for op in STREAM_OPS}
    for op in STREAM_OPS:
        out, progress = loaded[op]
        problems += check_stream_op(op, model, out, progress, con, h["oracle_sql"])
    problems += compare("stream trigger_tws vs trigger_fmgws", loaded["trigger_tws"][0],
                        loaded["trigger_fmgws"][0])
    return problems


def check_workload(workload, data_dir, out_dir, h, failed):
    if workload == "event_stream":
        return check_stream(data_dir, out_dir, h)
    ops = [k for k, _, _ in workloads.WORKLOADS[workload]["ops"]]
    return check_ops(data_dir, out_dir, h, ops, failed)
