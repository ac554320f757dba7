"""The benchmark's workloads: closed loops of operations, one client.

A workload builds its state in :meth:`setup` (repeated per session
start), yields operations from :meth:`ops`, and checks each result
against an expectation computed outside the timed span:

- ``llm_stream`` compares every query result with the hash of its
  DuckDB oracle, under the corpus oracle canonicalization
  (``tests.oracle_utils._canon``);
- ``table_lifecycle`` keeps a DuckDB model of the table that applies
  the same seed-derived operations, and compares every scan, delete
  count, merge, time-travel read and metadata-table read with it.

Each op's ``run`` gets the span recorder and opens child spans around
the calls into each layer; it returns what ``check`` needs.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

LLM_QUERIES = (
    "dedup_minhash_lsh_pairs", "dedup_simhash_near_pairs",
    "sim_topk_lsh", "sim_topk_bruteforce", "sim_knn_classify", "sim_quantized_topk",
    "text_stats_profile", "udf_grouped_map_zscore", "multimodal_decode_features",
    "stream_tumbling_window", "stream_session_windows",
    "stream_stateful_user_sessions", "stream_stream_click_purchase",
)

@dataclass
class Op:
    op_id: int
    name: str          # op type: query name, or table op kind
    kind: str          # "read" | "write" | "probe" (of a known defect; untimed)
    last_in_round: bool = False  # a round (llm) or cycle (table) ends here
    params: dict = field(default_factory=dict)
    result: object = None


# ---------------------------------------------------------------------------
# Result hashing (corpus oracle canonicalization)
# ---------------------------------------------------------------------------


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result frame: columns sorted by name,
    rows sorted, each column hashed with its numeric kind. Floats hash
    by their bits, so -0.0 and 0.0 differ, as in
    ``tests.oracle_utils.assert_frames_match``."""
    from tests.oracle_utils import _canon, _kind

    c = _canon(pdf)
    h = hashlib.sha256(str(len(c)).encode())
    for col in c.columns:
        kind = _kind(c[col])
        h.update(f"|{col}:{kind}|".encode())
        vals = c[col].to_numpy()
        if kind == "float":
            v = vals.astype("<f8")
            h.update(np.where(np.isnan(v), np.nan, v).tobytes())
        else:
            h.update(repr([None if _is_null(x) else x for x in vals.tolist()]).encode())
    return h.hexdigest()


def _is_null(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def duck_connect(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# ---------------------------------------------------------------------------
# llm_stream
# ---------------------------------------------------------------------------


class LlmStream:
    """The 13 LLM-pipeline and streaming queries, each round in a
    seed-permuted order."""

    name = "llm_stream"
    tables = ("documents", "embeddings", "events")
    #: one timed round (13 queries) keeps a run near a minute; a second
    #: would add about 18 s a run, more than the run budget allows
    timed_rounds = 1

    def __init__(self, sf_dir: str, seed: int, cache_dir: str):
        from iceberg_rs_spark.plans import corpus

        self.sf_dir, self.seed = sf_dir, seed
        self.specs = {q: corpus.CORPUS[q] for q in LLM_QUERIES}
        self.cache_dir = cache_dir

    def prepare_checks(self) -> None:
        self.expected = self._oracle_hashes(self.cache_dir)

    def _oracle_hashes(self, cache_dir: str) -> dict[str, str]:
        """DuckDB oracle hash per query, cached keyed by the oracle text
        and the fixture bytes."""
        digest = hashlib.sha256()
        for t in self.tables:
            with open(f"{self.sf_dir}/{t}.parquet", "rb") as f:
                digest.update(f.read())
        out, con = {}, None
        for q, spec in self.specs.items():
            key = hashlib.sha256((digest.hexdigest() + spec.oracle).encode()).hexdigest()
            path = os.path.join(cache_dir, f"oracle-{q}-{key[:24]}.txt")
            if os.path.exists(path):
                with open(path) as f:
                    out[q] = f.read().strip()
                continue
            con = con or duck_connect(self.sf_dir, self.tables)
            out[q] = frame_hash(con.sql(spec.oracle).df())
            os.makedirs(cache_dir, exist_ok=True)
            with open(path, "w") as f:
                f.write(out[q])
        if con is not None:
            con.close()
        return out

    def setup(self, spark, rec) -> None:
        """Fill the Python worker pool to full width once per session, so
        no timed op pays the worker forks (numpy/pandas import)."""
        width = spark.sparkContext.defaultParallelism

        def _fill(batches):
            import time

            import numpy  # noqa: F401
            import pandas  # noqa: F401

            time.sleep(0.3)  # keep every task alive so all workers fork
            yield from batches

        spark.range(0, width, 1, width).mapInPandas(_fill, schema="id long").count()

    def ops(self):
        rng = random.Random(self.seed)
        op_id = 0
        while True:
            order = list(LLM_QUERIES)
            rng.shuffle(order)
            for i, q in enumerate(order):
                op_id += 1
                yield Op(op_id, q, "read", last_in_round=i == len(order) - 1)

    @staticmethod
    def warm_lanes(ops: list[Op]) -> list[list[Op]]:
        """The queries are independent, but a streaming replay sets the
        session's shuffle partitions while it runs and restores them
        after, so the replays share one serial lane (started first, as
        the longest) and every other query runs in a lane of its own."""
        replays = [op for op in ops if op.name.startswith("stream_")]
        return [replays] + [[op] for op in ops if op not in replays]

    def run(self, spark, op: Op, rec) -> None:
        with rec.span("plans.build", op.op_id, query=op.name):
            df = self.specs[op.name].builder(spark, self.sf_dir)
        with rec.span("plans.collect", op.op_id, query=op.name):
            op.result = df.toPandas()

    def check(self, op: Op) -> bool:
        return frame_hash(op.result) == self.expected[op.name]


# ---------------------------------------------------------------------------
# table_lifecycle
# ---------------------------------------------------------------------------

APPEND_ROWS = 2000
MERGE_UPDATES, MERGE_INSERTS = 700, 300
RETENTION_ROWS = 4000
MOR_DELETE_USERS = 5
NULL_VALUE_SHARE = 0.1
RETAIN_SNAPSHOTS = 8
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
TABLE = "bench.events"
_TS_FMT = "%Y-%m-%d %H:%M:%S"

#: one cycle, in a fixed order, ending in compaction: file and
#: delete-file counts rise through a cycle and fall at its end, so every
#: cycle reads the table in the same states and a run's sample does not
#: depend on where its window falls; the seed only picks parameters.
#: Appends add 2 x APPEND_ROWS + MERGE_INSERTS rows; the retention
#: delete removes RETENTION_ROWS oldest rows and the merge-on-read
#: delete a few users' rows, so live rows, file count and metadata size
#: level off.
CYCLE = (
    "append", "scan_eq", "scan_range", "delete_mor", "scan_in", "append", "merge_mor",
    "scan_and", "scan_or", "time_travel", "metadata_table", "delete_cow", "compact", "expire",
)
TIME_TRAVEL_BACK = 4
READS = {"scan_eq", "scan_range", "scan_in", "scan_and", "time_travel", "metadata_table"}
#: ops that probe a known program defect (ROADMAP Fix-first #1: an OR
#: predicate is parsed as one equality against a spliced literal, and
#: files are pruned by that literal). They run in the cycle, on the table state the
#: shape was designed for, and are checked like any op, but they are
#: untimed and their wrong results are reported apart from the
#: workload's ops, which must all be right.
PROBES = {"scan_or"}


class TableModel:
    """DuckDB model of the icelake table: every row carries the model
    version that added it and the one that deleted it, so any past
    version can be read back."""

    def __init__(self, con):
        self.con = con
        self.version = 0

    def live(self, v: int | None = None) -> str:
        v = self.version if v is None else v
        return f"v_add <= {v} AND (v_del IS NULL OR v_del > {v})"

    def load(self, pdf: pd.DataFrame) -> None:
        self.con.execute(
            "CREATE TABLE m AS SELECT *, 1 AS v_add, CAST(NULL AS INTEGER) AS v_del FROM pdf")
        self.version = 1

    def append(self, pdf: pd.DataFrame) -> None:
        self.version += 1
        self.con.execute(f"INSERT INTO m SELECT *, {self.version}, NULL FROM pdf")

    def delete(self, where: str) -> int:
        n = self.count(where)
        self.version += 1
        self.con.execute(f"UPDATE m SET v_del = {self.version} WHERE {self.live(self.version - 1)} AND ({where})")
        return n

    def merge(self, pdf: pd.DataFrame) -> None:
        self.version += 1
        self.con.execute(
            f"UPDATE m SET v_del = {self.version} WHERE {self.live(self.version - 1)} "
            "AND event_id IN (SELECT event_id FROM pdf)")
        self.con.execute(f"INSERT INTO m SELECT *, {self.version}, NULL FROM pdf")

    def bump(self) -> None:
        self.version += 1

    def count(self, where: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM m WHERE {self.live()} AND ({where})").fetchone()[0]

    def aggregate(self, where: str | None = None, v: int | None = None) -> tuple:
        cond = f"{self.live(v)} AND ({where})" if where else self.live(v)
        return self.con.execute(
            "SELECT count(*), coalesce(sum(event_id), 0), count(value), coalesce(sum(value), 0) "
            f"FROM m WHERE {cond}").fetchone()

    def scalar(self, sql: str):
        return self.con.execute(sql.format(live=self.live())).fetchone()[0]


def _agg_matches(got, want) -> bool:
    got = [0 if x is None else x for x in got]  # Spark's sum over no rows is NULL
    return (int(got[0]), int(got[1]), int(got[2])) == (int(want[0]), int(want[1]), int(want[2])) \
        and math.isclose(float(got[3]), float(want[3]), rel_tol=1e-9, abs_tol=1e-6)


def _table_bytes(location: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(location):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


class TableLifecycle:
    """Writes beside reads on one ``day(ts)``-partitioned icelake table
    holding the events fixture. New events arrive past the newest
    timestamp; the retention delete trims the oldest."""

    name = "table_lifecycle"
    tables = ("events",)
    #: 26 timed ops; one cycle (13) gives a median that jumps between
    #: neighbouring op types from run to run
    timed_rounds = 2

    def __init__(self, sf_dir: str, seed: int, work_dir: str):
        self.sf_dir, self.seed, self.work_dir = sf_dir, seed, work_dir
        self.table = None
        self.trace_extra = False

    # -- set-up -------------------------------------------------------

    def setup(self, spark, rec) -> None:
        """Create the table and load the events fixture (one commit)."""
        import shutil

        from iceberg_rs_spark.sources.fixtures import load_table
        from iceberg_rs_spark.sources.icelake import Catalog

        warehouse = os.path.join(self.work_dir, "warehouse")
        shutil.rmtree(warehouse, ignore_errors=True)
        with rec.span("icelake.create_table", 0):
            events = load_table(spark, self.sf_dir, "events")
            catalog = Catalog(spark, warehouse)
            self.table = catalog.create_table(TABLE, events.schema, partition_by=[("ts", "day")])
        with rec.span("icelake.fill", 0):
            self.table.append(events)

    def prepare_checks(self) -> None:
        """The model of the freshly filled table."""
        import duckdb

        self.rng = random.Random(self.seed)
        self.model = TableModel(duckdb.connect())
        self.model.load(pd.read_parquet(f"{self.sf_dir}/events.parquet"))
        self.n_users = int(self.model.scalar("SELECT max(user_id) + 1 FROM m"))
        self.next_id = int(self.model.scalar("SELECT max(event_id) + 1 FROM m"))
        self.snapshots: list[tuple[int, int]] = []  # (snapshot id, model version), oldest first
        self._track_snapshot()

    def _track_snapshot(self) -> None:
        sid = self.table.metadata.current_snapshot_id
        if not self.snapshots or self.snapshots[-1][0] != sid:
            self.snapshots.append((sid, self.model.version))
        else:  # a commit that wrote no snapshot: same content, newer version
            self.snapshots[-1] = (sid, self.model.version)

    # -- op stream ----------------------------------------------------

    @staticmethod
    def warm_lanes(ops: list[Op]) -> list[list[Op]]:
        """One lane: each op depends on the table state the previous one
        left."""
        return [ops]

    def ops(self):
        self.cycle, op_id = 0, 0
        while True:
            self.cycle += 1
            for i, name in enumerate(CYCLE):
                op_id += 1
                yield Op(op_id, name, "probe" if name in PROBES else
                         "read" if name in READS else "write",
                         last_in_round=i == len(CYCLE) - 1)

    def _ts_bounds(self):
        lo = self.model.scalar("SELECT min(ts) FROM m WHERE {live}")
        hi = self.model.scalar("SELECT max(ts) FROM m WHERE {live}")
        return pd.Timestamp(lo), pd.Timestamp(hi)

    def _range(self, days: float) -> tuple[str, str]:
        lo, hi = self._ts_bounds()
        span = (hi - lo).total_seconds() - days * 86400
        a = lo + pd.Timedelta(seconds=self.rng.uniform(0, max(span, 0)))
        return a.strftime(_TS_FMT), (a + pd.Timedelta(days=days)).strftime(_TS_FMT)

    def _new_rows(self, n: int, start: pd.Timestamp, ids=None) -> pd.DataFrame:
        """``n`` fresh events after ``start``, shaped like the sf0.1
        fixture: exponential arrival gaps at its rate (100k events over
        30 days), uniform users and event types, an exponential
        ``value`` with mean 50 at cent precision, ``{"k": 0..99}``
        props. NULL_VALUE_SHARE of them carry a NULL value."""
        r = np.random.default_rng(self.rng.getrandbits(32))
        gaps = r.exponential(30 * 86400e6 / 100_000, n).astype(np.int64)
        ts = start + pd.to_timedelta(np.cumsum(gaps), unit="us")
        value = np.round(r.exponential(50.0, n), 2)
        value = np.where(r.random(n) < NULL_VALUE_SHARE, np.nan, value)
        if ids is None:
            ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
            self.next_id += n
        return pd.DataFrame({
            "event_id": ids,
            "ts": ts.astype("datetime64[us]"),
            "user_id": r.integers(0, self.n_users, n).astype(np.int64),
            "event_type": np.asarray(EVENT_TYPES, dtype=object)[r.integers(0, 5, n)],
            "value": value,
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        })

    def prepare(self, op: Op) -> None:
        """Derive the op's parameters from the seed and the model, before
        its timed span."""
        rng, p = self.rng, op.params
        types = rng.sample(EVENT_TYPES, 2)
        if op.name == "append":
            p["rows"] = self._new_rows(APPEND_ROWS, self._ts_bounds()[1])
        elif op.name == "scan_eq":
            p["where"] = f"user_id = {rng.randrange(self.n_users)}"
        elif op.name == "scan_range":
            a, b = self._range(2)
            p["where"] = f"ts >= '{a}' AND ts < '{b}'"
        elif op.name == "scan_in":
            p["where"] = f"event_type IN ('{types[0]}', '{types[1]}')"
        elif op.name == "scan_and":
            a, b = self._range(5)
            p["where"] = f"user_id = {rng.randrange(self.n_users)} AND ts >= '{a}' AND ts < '{b}'"
        elif op.name == "scan_or":
            p["where"] = f"event_type = '{types[0]}' OR event_type = '{types[1]}'"
        elif op.name == "time_travel":
            p["snapshot_id"], p["version"] = self.snapshots[
                max(0, len(self.snapshots) - 1 - TIME_TRAVEL_BACK)]
        elif op.name == "metadata_table":
            p["table"] = "files" if self.cycle % 2 else "snapshots"
        elif op.name == "delete_mor":
            users = sorted(rng.sample(range(self.n_users), MOR_DELETE_USERS))
            p["where"] = f"user_id IN ({', '.join(map(str, users))})"
        elif op.name == "delete_cow":
            cutoff = self.model.scalar(
                "SELECT max(ts) FROM (SELECT ts FROM m WHERE {live} ORDER BY ts LIMIT "
                f"{RETENTION_ROWS})")
            p["where"] = f"ts < '{pd.Timestamp(cutoff).strftime(_TS_FMT)}'"
        elif op.name == "merge_mor":
            ids = self.model.con.execute(
                f"SELECT event_id FROM m WHERE {self.model.live()} "
                f"ORDER BY hash(event_id + {rng.getrandbits(31)}) LIMIT {MERGE_UPDATES}"
            ).fetchnumpy()["event_id"].astype(np.int64)
            fresh = np.arange(self.next_id, self.next_id + MERGE_INSERTS, dtype=np.int64)
            self.next_id += MERGE_INSERTS
            p["rows"] = self._new_rows(MERGE_UPDATES + MERGE_INSERTS, self._ts_bounds()[1],
                                       ids=np.concatenate([ids, fresh]))
        elif op.name == "expire":
            p["expected"] = {s for s, _ in self.snapshots[:-RETAIN_SNAPSHOTS]}
        if self.trace_extra and op.kind == "write":
            p["files_before"] = _table_bytes(self.table.location)

    # -- execution ----------------------------------------------------

    def run(self, spark, op: Op, rec) -> None:
        from pyspark.sql import functions as F

        t, p, name = self.table, op.params, op.name
        aggs = (F.count(F.lit(1)), F.sum("event_id"), F.count("value"), F.sum("value"))
        if name.startswith("scan_") or name == "time_travel":
            with rec.span("icelake.scan.plan", op.op_id, shape=name):
                df = t.scan(where=p.get("where"), snapshot_id=p.get("snapshot_id"))
            with rec.span("icelake.scan.exec", op.op_id, shape=name):
                op.result = df.agg(*aggs).collect()[0]
            p["df"] = df
        elif name == "metadata_table":
            with rec.span(f"icelake.{p['table']}", op.op_id):
                op.result = getattr(t, p["table"])().collect()
        elif name == "append":
            with rec.span("icelake.append", op.op_id):
                t.append(spark.createDataFrame(p["rows"], t.spark_schema()))
        elif name in ("delete_mor", "delete_cow"):
            mode = "merge-on-read" if name == "delete_mor" else "copy-on-write"
            with rec.span(f"icelake.{name}", op.op_id):
                op.result = t.delete(p["where"], mode=mode)
        elif name == "merge_mor":
            with rec.span("icelake.merge_mor", op.op_id):
                t.merge(spark.createDataFrame(p["rows"], t.spark_schema()), on=["event_id"],
                        mode="merge-on-read")
        elif name == "compact":
            with rec.span("icelake.compact", op.op_id):
                t.compact()
        elif name == "expire":
            with rec.span("icelake.expire", op.op_id):
                op.result = t.expire_snapshots(retain_last=RETAIN_SNAPSHOTS)
        else:
            raise ValueError(f"unknown op {name}")

    def check(self, op: Op) -> bool:
        """Compare with the model, then advance the model by the op."""
        p, name, m = op.params, op.name, self.model
        if name.startswith("scan_"):
            return _agg_matches(op.result, m.aggregate(p["where"]))
        if name == "time_travel":
            return _agg_matches(op.result, m.aggregate(v=p["version"]))
        if name == "metadata_table":
            if p["table"] == "snapshots":
                return len(op.result) == len(self.snapshots)
            data = [r for r in op.result if r.content == "data"]
            return bool(data) and all(os.path.exists(r.file_path) for r in data)
        if name == "append":
            m.append(p["rows"])
            ok = True
        elif name in ("delete_mor", "delete_cow"):
            ok = op.result == m.delete(p["where"])
        elif name == "merge_mor":
            m.merge(p["rows"])
            ok = self._check_merge(p["rows"])
        elif name == "compact":
            m.bump()
            ok = True
        elif name == "expire":
            removed = set(op.result)
            self.snapshots = [s for s in self.snapshots if s[0] not in removed]
            return removed == p["expected"]
        self._track_snapshot()
        return ok

    def _check_merge(self, rows: pd.DataFrame) -> bool:
        """Read the merged keys back: one live row per key, with the
        source's values."""
        from pyspark.sql import functions as F

        got = (self.table.scan().where(F.col("event_id").isin(rows["event_id"].tolist()))
               .agg(F.count(F.lit(1)), F.sum("event_id"), F.count("value"), F.sum("value"))
               .collect()[0])
        want = (len(rows), int(rows["event_id"].sum()), int(rows["value"].count()),
                float(rows["value"].sum()))
        return _agg_matches(got, want)

    # -- traced extras (outside the op span) -------------------------------

    def layer_stats(self, op: Op, rec) -> dict:
        """Pruning, metadata and storage counters for the traced record."""
        from iceberg_rs_spark.model import TableMetadata
        from iceberg_rs_spark.sources.icelake import _latest_version, _version_path

        out = {}
        loc = self.table.location
        path = _version_path(loc, _latest_version(loc))
        with open(path) as f:
            doc = f.read()
        with rec.span("model.metadata_parse", op.op_id):
            TableMetadata.from_json_str(doc)
        out["metadata_bytes"] = len(doc.encode())
        df = op.params.get("df")
        if df is not None and op.name.startswith("scan_"):
            read = len(df.inputFiles())
            live = self.table.files().where("content = 'data'").count()
            out.update(files_read=read, files_live=live,
                       prune_ratio=1 - read / live if live else 0.0)
        before = op.params.pop("files_before", None)
        if before is not None:
            after = _table_bytes(loc)
            new = [p for p in after if p not in before]
            out.update(files_written=len(new), bytes_written=sum(after[p] for p in new))
        return out

    def storage_amp(self) -> float:
        """Bytes under the table location over the zstd parquet bytes of
        the live rows (icelake's own commit flush policy, unchanged)."""
        live_path = os.path.join(self.work_dir, "live_rows.parquet")
        self.model.con.execute(
            f"COPY (SELECT * EXCLUDE (v_add, v_del) FROM m WHERE {self.model.live()}) "
            f"TO '{live_path}' (FORMAT parquet, COMPRESSION zstd)")
        live = os.path.getsize(live_path)
        os.remove(live_path)
        return sum(_table_bytes(self.table.location).values()) / live


def make(name: str, sf_dir: str, seed: int, work_dir: str):
    if name == "llm_stream":
        return LlmStream(sf_dir, seed, os.path.join(work_dir, "..", "cache"))
    if name == "table_lifecycle":
        return TableLifecycle(sf_dir, seed, work_dir)
    raise SystemExit(f"unknown workload {name!r}")
