"""End-to-end and per-layer metrics from one run's op records and
traces, and the human-readable report."""

from __future__ import annotations

import json
import sys
from collections import defaultdict

from perfbench.measure import median, tail
from perfbench.trace import COUNTERS, attribute_jobs, parse_event_log, self_time

#: the bounded metrics (BENCHMARK.json end_to_end), in order
END_TO_END = ("setup_s", "cpu_per_op_s")

PER_LAYER = (
    "session.start_s", "session.warm_s", "fixtures.load_s",
    "model.metadata_parse_s", "model.metadata_bytes",
    "icelake.fill_s", "icelake.scan.plan_s", "icelake.scan.exec_s",
    "icelake.scan.files_read", "icelake.scan.files_live", "icelake.scan.prune_ratio",
    "icelake.append_s", "icelake.delete_cow_s", "icelake.delete_mor_s", "icelake.merge_mor_s",
    "icelake.compact_s", "icelake.expire_s", "icelake.bytes_written", "icelake.files_written",
    "icelake.time_travel_s", "icelake.metadata_table_s", "icelake.storage_amp",
    "plans.build_s", "plans.collect_s", "plans.driver_only_s",
    "streaming.batches", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.state_commit_s", "streaming.state_rows",
    *(f"spark.{c}" for c in COUNTERS),
)

def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_ratio", "_amp", "_rate")):
        return "ratio"
    return "count"


def _m(value, name, n, **extra) -> dict:
    return {"value": float(value), "unit": unit_of(name), "n": n, **extra}


def end_to_end(records, setup_s, peak_mb, warm_round_s, extra) -> dict:
    timed = [r for r in records if r["timed"]]
    ok = [r for r in timed if r["ok"]]
    # every timed op is a latency sample, failed ones included, so each
    # run samples the same op mix; failures are counted in error_rate
    lats = [r["lat"] for r in timed]
    cpus = [r["cpu"] for r in timed]
    t_val, t_pct, t_n = tail(lats)
    busy = sum(lats)
    out = {
        "setup_s": _m(setup_s, "setup_s", 1),
        "op_p50_s": _m(median(lats), "op_p50_s", len(lats)),
        "op_tail_s": _m(t_val, "op_tail_s", t_n, percentile=round(t_pct, 1)),
        "ops_per_s": {"value": len(ok) / busy if busy else 0.0, "unit": "1/s", "n": len(timed)},
        # process-tree CPU seconds per op: the cost of an op, which
        # counts no waiting, so a busy host inflates it far less than
        # the latencies
        "cpu_per_op_s": _m(sum(cpus) / len(cpus) if cpus else 0.0, "cpu_per_op_s", len(cpus)),
        "peak_rss_mb": _m(peak_mb, "peak_rss_mb", 1),
        "error_rate": {"value": sum(not r["ok"] for r in records) / max(len(records), 1),
                       "unit": "ratio", "n": len(records)},
        "warm_round_s": _m(warm_round_s, "warm_round_s", 1),
    }
    for kind in ("read", "write"):
        xs = [r["lat"] for r in timed if r["kind"] == kind]
        out[f"{kind}_p50_s"] = _m(median(xs), "p50_s", len(xs))
    if "storage_amp" in extra:
        out["storage_amp"] = {"value": extra["storage_amp"], "unit": "ratio", "n": 1}
    return out


def trace_overhead(traced_p50: float, untraced_log) -> dict:
    """Traced ``op_p50_s`` minus the median ``op_p50_s`` of the untraced
    runs of the same workload, seed and program source in this checkout;
    missing (value None) when there was no such run."""
    try:
        with open(untraced_log) as f:
            vals = [json.loads(line)["op_p50_s"] for line in f if line.strip()]
    except FileNotFoundError:
        vals = []
    value = traced_p50 - median(vals) if vals else None
    return {"value": value, "unit": "s", "n_untraced": len(vals)}


def per_layer(rec, records, log_dir, progress, e2e, untraced_log, warm_round_s):
    """Per-layer metrics (every PER_LAYER name) and the per-op record."""
    spans = rec.spans
    timed_ids = {r["op_id"] for r in records if r["timed"]}
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def walls(name, timed_only=True):
        return [s.wall for s in by_name[name] if not timed_only or s.op_id in timed_ids]

    op_spans = [s for s in spans if s.name.startswith("op:") and s.op_id in timed_ids]
    jobs, stages = parse_event_log(log_dir)
    per_op = attribute_jobs(op_spans, jobs, stages)
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    rows = {}
    for sp in op_spans:
        acc = per_op[sp.sid]
        batches = progress.for_span(sp.start, sp.end)
        rows[sp.sid] = {
            "name": sp.name[3:],
            "wall": sp.wall,
            "self": self_time(sp.start, sp.end, [(c.start, c.end) for c in children[sp.sid]]),
            "driver_only": self_time(sp.start, sp.end, acc["job_intervals"]),
            "children": {c.name: c.wall for c in children[sp.sid]},
            "spark": {k: acc.get(k, 0.0) for k in COUNTERS},
            "streaming": {
                "batches": len(batches),
                **{k: sum(b[k] for b in batches)
                   for k in ("add_batch_s", "wal_commit_s", "state_commit_s")},
                "state_rows": max((b["state_rows"] for b in batches), default=0),
            },
        }
    stats = {r["op_id"]: r["stats"] for r in records if r["timed"]}
    op_rows = list(rows.values())
    n_ops = max(len(op_rows), 1)
    plan_rows = [r for r in op_rows if "plans.build" in r["children"]]
    stream_rows = [r for r in op_rows if r["name"].startswith("stream_")]
    scan_stats = [s for s in stats.values() if "files_read" in s]
    write_stats = [s for s in stats.values() if "files_written" in s]
    lats = defaultdict(list)
    for r in records:
        if r["timed"] and r["ok"]:
            lats[r["name"]].append(r["lat"])
    scan_shapes = {"scan_eq", "scan_range", "scan_in", "scan_and"}

    m = {
        "session.start_s": median(walls("session.start", False)),
        "session.warm_s": warm_round_s,
        "fixtures.load_s": median(walls("fixtures.load", False)),
        "model.metadata_parse_s": median(walls("model.metadata_parse")),
        "model.metadata_bytes": median(s["metadata_bytes"] for s in stats.values()
                                       if "metadata_bytes" in s),
        "icelake.fill_s": median(walls("icelake.fill", False)),
        "icelake.scan.plan_s": median(s.wall for s in by_name["icelake.scan.plan"]
                                      if s.op_id in timed_ids and s.attrs["shape"] in scan_shapes),
        "icelake.scan.exec_s": median(s.wall for s in by_name["icelake.scan.exec"]
                                      if s.op_id in timed_ids and s.attrs["shape"] in scan_shapes),
        "icelake.scan.files_read": median(s["files_read"] for s in scan_stats),
        "icelake.scan.files_live": median(s["files_live"] for s in scan_stats),
        "icelake.scan.prune_ratio": median(s["prune_ratio"] for s in scan_stats),
        "icelake.bytes_written": sum(s["bytes_written"] for s in write_stats) / max(len(write_stats), 1),
        "icelake.files_written": sum(s["files_written"] for s in write_stats) / max(len(write_stats), 1),
        "icelake.storage_amp": e2e.get("storage_amp", {}).get("value", 0.0),
        "plans.build_s": median(r["children"]["plans.build"] for r in plan_rows),
        "plans.collect_s": median(r["children"]["plans.collect"] for r in plan_rows),
        "plans.driver_only_s": median(r["driver_only"] for r in plan_rows),
        "streaming.batches": sum(r["streaming"]["batches"] for r in stream_rows) / max(len(stream_rows), 1),
        "streaming.state_rows": sum(r["streaming"]["state_rows"] for r in stream_rows) / max(len(stream_rows), 1),
    }
    for op in ("append", "delete_cow", "delete_mor", "merge_mor", "compact", "expire",
               "time_travel", "metadata_table"):
        m[f"icelake.{op}_s"] = median(lats[op])
    for k in ("add_batch_s", "wal_commit_s", "state_commit_s"):
        m[f"streaming.{k}"] = sum(r["streaming"][k] for r in stream_rows) / max(len(stream_rows), 1)
    for k in COUNTERS:
        m[f"spark.{k}"] = sum(r["spark"][k] for r in op_rows) / n_ops
    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    metrics = {k: {"value": float(m[k]), "unit": unit_of(k)} for k in PER_LAYER}
    record = _record(op_rows, records, e2e, m)
    record["trace_overhead_s"] = trace_overhead(e2e["op_p50_s"]["value"], untraced_log)
    return metrics, record


def _record(op_rows, records, e2e, layer) -> dict:
    """Per op type: latency, child-span split, self and driver-only
    time, Spark jobs/stages/tasks and the dominating counters."""
    by_name = defaultdict(list)
    for r in op_rows:
        by_name[r["name"]].append(r)
    failed = defaultdict(int)
    for r in records:
        failed[r["name"]] += not r["ok"]
    ops = {}
    for name, rows in sorted(by_name.items()):
        n = len(rows)
        spark = {k: sum(r["spark"][k] for r in rows) / n for k in COUNTERS}
        times = {k: v for k, v in spark.items() if k.endswith("_s")}
        child_names = sorted({c for r in rows for c in r["children"]})
        ops[name] = {
            "n": n,
            "failed": failed[name],
            "wall_p50_s": median(r["wall"] for r in rows),
            "self_p50_s": median(r["self"] for r in rows),
            "driver_only_p50_s": median(r["driver_only"] for r in rows),
            "children_p50_s": {c: median(r["children"][c] for r in rows if c in r["children"])
                               for c in child_names},
            "spark_per_op": spark,
            "dominant_spark_times": sorted(times, key=times.get, reverse=True)[:3],
            "streaming_per_op": {k: sum(r["streaming"][k] for r in rows) / n
                                 for k in rows[0]["streaming"]},
        }
    return {"end_to_end": e2e, "per_layer": layer, "ops": ops}


def print_report(workload: str, result: dict) -> None:
    for name, m in result.items():
        extra = "".join(f" {k}={v}" for k, v in m.items() if k not in ("value", "unit"))
        print(f"metric {workload} {name} = {m['value']:.6g} {m['unit']}{extra}")
    sys.stdout.flush()
