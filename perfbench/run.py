"""icelake benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload table_lifecycle --seed 1 --seconds 5 --trace 0

Run from the root of a checkout; everything it writes stays under
``.perfbench/`` there. The run reads the seed-42 fixtures kept in
``perfbench/fixtures/``, sets up (JVM and session, fixture load, the
workload's own set-up), runs one untimed warm round, then issues
operations, each only after the previous one returned, in whole
rounds: at least the workload's ``timed_rounds`` and until
``--seconds`` have passed. ``setup_s`` is the time from process start
to the first timed op, less the time spent computing the expected
results. It checks every result.
Human-readable report lines come first; the last stdout line is the
JSON result. ``--trace 1`` turns on the span recorder, Spark's event
log and a streaming listener and reports the per-layer metrics.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = Path(__file__).resolve().parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import measure  # noqa: E402
from perfbench.trace import NullRecorder  # noqa: E402

#: fixture scale per workload: a copy of the seed-42 fixture files of
#: that scale factor (FIXTURES.md part B) lives in fixtures/<sf>/
SCALE = {"table_lifecycle": "sf0.1", "llm_stream": "sf0.01"}
FIXTURES = BENCH_DIR / "fixtures"
WARM_THREADS = 4


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, Python workers and tempfile write inside
    the checkout, and let Python workers import the program."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _program_hash() -> str:
    """Hash of the program's source, to key the untraced history by."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "iceberg_rs_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _set_up(wl, sf_dir, conf, rec):
    """Session (it launches the JVM), fixture load and the workload's own
    set-up (table fill, or Python worker pool fill)."""
    from iceberg_rs_spark.session import get_spark
    from iceberg_rs_spark.sources.fixtures import load_table

    with rec.span("session.start", 0):
        spark = get_spark(app_name="icelake-perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    with rec.span("fixtures.load", 0):
        for t in wl.tables:
            load_table(spark, sf_dir, t)
    wl.setup(spark, rec)
    return spark


def _stop(spark) -> None:
    """Stop Spark, then close the JVM's stdin so it exits, and wait for
    it (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """Drives ops one at a time and keeps one record per op."""

    def __init__(self, spark, wl, rec, traced: bool):
        self.spark, self.wl, self.rec, self.traced = spark, wl, rec, traced
        self.records: list[dict] = []
        self.probes: list[dict] = []  # ops of kind "probe", kept out of records

    def step(self, op, timed: bool) -> bool:
        """Run, time and check one op; True when it ends a round. Untimed
        ops and probes record no spans (untimed ones may run on several
        threads)."""
        probe = op.kind == "probe"
        rec = self.rec if timed and not probe else NullRecorder()
        sc = self.spark.sparkContext
        if hasattr(self.wl, "prepare"):
            self.wl.prepare(op)
        sc.setJobDescription(f"bench:{op.op_id}:{op.name}")
        err = None
        # CPU time of the whole process tree (driver, JVM, Python
        # workers) is read only around timed ops, which run alone
        sample_cpu = timed and not probe
        cpu0 = measure.tree_cpu_s(os.getpid()) if sample_cpu else 0.0
        t0 = time.perf_counter()
        try:
            with rec.span(f"op:{op.name}", op.op_id, kind=op.kind):
                self.wl.run(self.spark, op, rec)
        except Exception as exc:  # an op that raises is a failed op, not a crash
            err = exc
        lat = time.perf_counter() - t0
        cpu = measure.tree_cpu_s(os.getpid()) - cpu0 if sample_cpu else 0.0
        sc.setJobDescription(None)
        ok = False
        if err is None:
            try:
                ok = bool(self.wl.check(op))
            except Exception as exc:
                err = exc
        if not ok:
            why = f"{type(err).__name__}: {err}" if err else "wrong result"
            print(f"{'KNOWN DEFECT' if probe else 'FAILED'} op {op.op_id} {op.name} "
                  f"{op.params.get('where', '')}: {why}"[:400], file=sys.stderr)
            if err is not None:
                traceback.print_exception(err)
        if probe:
            op.params.pop("df", None)
            self.probes.append({"op_id": op.op_id, "name": op.name, "ok": ok,
                                "where": op.params.get("where", "")})
            return op.last_in_round
        stats = {}
        if self.traced and timed and err is None and hasattr(self.wl, "layer_stats"):
            stats = self.wl.layer_stats(op, self.rec)
        op.params.pop("df", None)
        self.records.append({"op_id": op.op_id, "name": op.name, "kind": op.kind,
                             "lat": lat, "cpu": cpu, "ok": ok, "timed": timed,
                             "stats": stats})
        return op.last_in_round


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "iceberg_rs_spark" / "sources" / "icelake.py").is_file():
        print(f"perfbench: the program (iceberg_rs_spark/) is not under {ROOT}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench"
    work = base / f"run-{os.getpid()}"
    (base / "cache").mkdir(parents=True, exist_ok=True)
    _prepare_env(work)
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: Path, work: Path) -> int:
    from perfbench import report, workloads
    from perfbench.trace import ProgressRecorder, SpanRecorder, make_listener

    traced = bool(args.trace)
    sf_dir = str(FIXTURES / SCALE[args.workload])
    wl = workloads.make(args.workload, sf_dir, args.seed, str(work))
    check_prep_s = 0.0
    rec = SpanRecorder() if traced else NullRecorder()
    wl.trace_extra = traced
    sampler = measure.RssSampler().start()
    spark = None
    try:
        conf = _spark_conf(work, traced)
        spark = _set_up(wl, sf_dir, conf, rec)
        # expected results (oracle hashes, the table model) are computed
        # here and their time is left out of setup_s
        t_prep = time.perf_counter()
        wl.prepare_checks()
        check_prep_s = time.perf_counter() - t_prep
        progress = ProgressRecorder()
        if traced:
            spark.streams.addListener(make_listener(progress))

        runner = Runner(spark, wl, rec, traced)
        ops = wl.ops()
        t_warm = time.perf_counter()
        warm = [next(ops)]
        while not warm[-1].last_in_round:
            warm.append(next(ops))
        # the warm round only pays first-execution costs: its lanes of
        # ops, each run serially, run on a few threads
        partitions = spark.conf.get("spark.sql.shuffle.partitions")
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            list(pool.map(lambda lane: [runner.step(op, timed=False) for op in lane],
                          wl.warm_lanes(warm)))
        if spark.conf.get("spark.sql.shuffle.partitions") != partitions:
            raise RuntimeError("the warm round left the session's shuffle partitions changed")
        warm_round_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - _T_PROCESS - check_prep_s
        setup_peak_mb = sampler.restart()
        # whole rounds only, so every run samples each op type in the
        # workload's own proportions; at least the workload's
        # timed_rounds of them, so a slow host shortens no run's sample
        t_start, rounds = time.perf_counter(), 0
        while True:
            if runner.step(next(ops), timed=True):
                rounds += 1
                if rounds >= wl.timed_rounds and time.perf_counter() - t_start >= args.seconds:
                    break
        extra = {"storage_amp": wl.storage_amp()} if hasattr(wl, "storage_amp") else {}
    finally:
        if spark is not None:
            _stop(spark)
        sampler.stop()

    result = report.end_to_end(runner.records, setup_s, sampler.peak_mb, warm_round_s, extra)
    result["setup_peak_rss_mb"] = {"value": setup_peak_mb, "unit": "MB", "n": 1}
    result["check_prep_s"] = {"value": check_prep_s, "unit": "s", "n": 1}
    if runner.probes:
        result["known_defect_wrong"] = {
            "value": sum(not r["ok"] for r in runner.probes), "unit": "count",
            "n": len(runner.probes)}
        for r in runner.probes:
            print(f"known_defect {args.workload} op {r['op_id']} {r['name']} [{r['where']}]: "
                  + ("right" if r["ok"] else "WRONG result"))
    # untraced op_p50_s history, one file per workload, seed and program
    # source: the traced run's overhead is measured against it
    untraced_log = base / f"untraced-{args.workload}-seed{args.seed}-{_program_hash()}.jsonl"
    if traced:
        metrics, record = report.per_layer(
            rec, runner.records, str(work / "eventlog"), progress, result, untraced_log,
            warm_round_s)
        rec_dir = base / "records"
        rec_dir.mkdir(exist_ok=True)
        with open(rec_dir / f"{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump(record, f, indent=1, sort_keys=True, default=float)
        print("record " + json.dumps(record, sort_keys=True, default=float))
        ov = record["trace_overhead_s"]
        print(f"trace_overhead {args.workload} seed {args.seed} = "
              + (f"{ov['value']:.6g} s" if ov["value"] is not None else "missing")
              + f" (untraced runs of this seed and program: {ov['n_untraced']})")
    else:
        with open(untraced_log, "a") as f:
            f.write(json.dumps({"op_p50_s": result["op_p50_s"]["value"]}) + "\n")
        metrics = {k: v for k, v in result.items() if k in report.END_TO_END}
    report.print_report(args.workload, result)
    print("oplog " + json.dumps([[r["name"], round(r["lat"], 4), r["ok"], r["timed"]]
                                 for r in runner.records]))
    attempted = len(runner.records)
    failed = sum(not r["ok"] for r in runner.records)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
