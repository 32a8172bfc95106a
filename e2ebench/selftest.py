#!/usr/bin/env python3
"""Self-test of the checks: feeds each check a corrupted copy of a real
output (one row dropped, one value changed, one late event counted as on
time, ...) and shows that the check reports the failure. The untouched
outputs must pass.

    python3 e2ebench/selftest.py [--seed 1]

Uses the outputs the last run of each workload left in e2ebench/.work;
runs a workload first (run length 1 s) when its outputs are missing.
"""
import argparse
import copy
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

RESULTS = []


def expect(name, problems, fail):
    ok = bool(problems) == fail
    RESULTS.append(ok)
    what = "reported failure" if problems else "passed"
    print(f"[{'ok' if ok else 'BAD'}] {name}: {what}"
          + (f" ({problems[0][:140]})" if problems else ""), flush=True)


def drop_row(res):
    r = copy.deepcopy(res)
    r.rows = r.rows[1:]
    return r


def change_value(res):
    """Changes one value of the first row: a number by one, a string by a
    suffix, a timestamp by one microsecond."""
    import datetime
    r = copy.deepcopy(res)
    row = list(r.rows[0])
    for i, v in enumerate(row):
        if isinstance(v, bool) or v is None:
            continue
        if isinstance(v, (int, float)):
            row[i] = v + 1
        elif isinstance(v, str):
            row[i] = v + "x"
        elif isinstance(v, datetime.datetime):
            row[i] = v + datetime.timedelta(microseconds=1)
        else:
            continue
        break
    r.rows[0] = tuple(row)
    return r


def ensure_run(workload, seed):
    out_dir = os.path.join(checks_root(), f"run-{workload}")
    if not os.path.exists(os.path.join(out_dir, "harness.json")):
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0"], check=True,
                       stdout=subprocess.DEVNULL)
    with open(os.path.join(out_dir, "harness.json")) as f:
        h = json.load(f)
    with open(os.path.join(out_dir, "seed")) as f:
        data_dir = os.path.join(checks_root(), "data", f"seed-{f.read().strip()}")
    return data_dir, out_dir, h


def checks_root():
    return os.path.join(HERE, ".work")


def ops(workload, seed):
    data_dir, out_dir, h = ensure_run(workload, seed)
    expect(f"{workload}: all checks on the real outputs",
           checks.check_workload(workload, data_dir, out_dir, h, set()), fail=False)
    con = checks.connect(data_dir)
    oracles = checks.op_oracles(h)
    outs = {k: checks.read_output(con, os.path.join(out_dir, "keys", k))
            for k, _, _ in workloads.WORKLOADS[workload]["ops"]}
    for k, out in outs.items():
        want = checks.run_oracle(data_dir, k, oracles[k])
        expect(f"{k} vs DuckDB, one row dropped", checks.compare(k, drop_row(out), want), True)
        expect(f"{k} vs DuckDB, one value changed",
               checks.compare(k, change_value(out), want), True)
    if "graph_kcore" in outs:
        edges = con.execute(
            f"SELECT src_id, neighbor_id FROM ({oracles['sim_knn_graph_capped']})").fetchall()
        rows = outs["graph_kcore"].dicts()
        outside = next(r for r in rows if r["layer"] == 1)
        outside["layer"] = 0
        expect("graph_kcore property, a peeled node counted in the core",
               checks.check_kcore("graph_kcore", rows, edges, 6), True)
    if "dedup_clusters" in outs:
        docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
        rows = outs["dedup_clusters"].dicts()
        big = next(r for r in rows if r["cluster_size"] > 1 and r["doc_id"] != r["cluster_id"])
        big.update(cluster_id=big["doc_id"], cluster_size=1)
        expect("dedup_clusters property, a near-duplicate split off its cluster",
               checks.check_clusters("dedup_clusters", rows, docs), True)
    if "windows_panes" in outs:
        expect("windows_panes vs windows_sliding, one row dropped",
               checks.compare("w", drop_row(outs["windows_panes"]), outs["windows_sliding"]), True)
        expect("windows_panes vs windows_sliding, one value changed",
               checks.compare("w", change_value(outs["windows_panes"]), outs["windows_sliding"]),
               True)


def stream(seed):
    data_dir, out_dir, h = ensure_run("event_stream", seed)
    expect("event_stream: all checks on the real outputs",
           checks.check_workload("event_stream", data_dir, out_dir, h, set()), fail=False)
    model = checks.StreamModel(data_dir, gen.STREAM_EVENTS, gen.BATCH_EVENTS)
    con = checks.connect(data_dir)
    con.execute("CREATE VIEW all_events AS SELECT * FROM read_parquet("
                f"'{os.path.join(data_dir, 'events.parquet')}')")
    con.execute("DROP VIEW events")
    oracles = h["oracle_sql"]
    loaded = {op: checks.load_stream(con, out_dir, op) for op in checks.STREAM_OPS}
    for op in checks.STREAM_OPS:
        out, progress = loaded[op]
        if op.startswith("trigger"):
            # corrupt a timeout row: the early rows are checked by the
            # FMGWS-vs-TWS comparison below
            kind = out.cols.index("emit_kind")
            out.rows.sort(key=lambda r: r[kind] != "timeout")
        late = model.late(checks.LATE_RULES[op])
        expect(f"stream {op}, one output row dropped",
               checks.check_stream_op(op, model, drop_row(out), progress, con, oracles), True)
        expect(f"stream {op}, one output value changed",
               checks.check_stream_op(op, model, change_value(out), progress, con, oracles), True)
        moved = copy.deepcopy(late)
        k = next(i for i, lb in enumerate(moved) if lb)
        moved[k] = moved[k][1:]
        expect(f"stream {op}, one late event counted as on time",
               checks.check_stream_op(op, model, out, progress, con, oracles, late=moved), True)
        back = copy.deepcopy(progress)
        ran = checks.progress_batches(back)
        ran[-1]["eventTime"]["watermark"] = ran[0]["eventTime"]["watermark"]
        expect(f"stream {op}, watermark moved backwards",
               checks.check_progress(op, model, back, checks.expected_drops(model, op, late)),
               True)
    tws, fmgws = loaded["trigger_tws"][0], loaded["trigger_fmgws"][0]
    kind = tws.cols.index("emit_kind")
    tws.rows.sort(key=lambda r: r[kind] != "early")
    expect("stream trigger_tws vs trigger_fmgws, one early row dropped",
           checks.compare("t", drop_row(tws), fmgws), True)
    expect("stream trigger_tws vs trigger_fmgws, one early row changed",
           checks.compare("t", change_value(tws), fmgws), True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    stream(a.seed)
    ops("batch_pipeline", a.seed)
    ops("fixpoint_loops", a.seed)
    bad = RESULTS.count(False)
    print(f"{len(RESULTS) - bad} of {len(RESULTS)} self-test cases behaved as expected")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
