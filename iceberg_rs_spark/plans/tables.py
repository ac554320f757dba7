"""Versioned-table corpus (SURVEY.md §2B/§2C scans): the icelake table
layer exercised as hash-checked queries — full scan with predicate
pushdown, VERSION AS OF / TIMESTAMP AS OF time travel, branch + tag
reads, incremental (changes-between-snapshots) scan, the snapshots
metadata table, and CSV/JSON/parquet ingest round-trips.

Setup builds one two-snapshot table per (process, sf_dir): snapshot 1
appends the even event_ids, snapshot 2 the odd ones, with a tag and a
branch pinned at snapshot 1. Every query then has an exact relational
oracle over the raw events fixture (`evt` CTE).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_rs_spark.plans.corpus import query
from iceberg_rs_spark.sources.fixtures import EVENTS_ORACLE_CTE, load_table
from iceberg_rs_spark.sources.icelake import Catalog

#: (spark id, sf_dir) -> prepared Table; tables live for the process.
_TABLES: dict[tuple[int, str], object] = {}


def _events_table(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    if key not in _TABLES:
        events = load_table(spark, sf_dir, "events")
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_corpus_"))
        t = catalog.create_table("db.events_versioned", events.schema)
        t.append(events.where(F.col("event_id") % 2 == 0))
        t.create_tag("v1")
        t.create_branch("audit")
        t.append(events.where(F.col("event_id") % 2 == 1))
        _TABLES[key] = t
    return _TABLES[key]


def _snap1_id(t) -> int:
    # commit order is the sequence number; snapshot ids are NOT ordered
    return min(t.metadata.snapshots, key=lambda s: s.sequence_number).snapshot_id


def _summarize(df: DataFrame, kind: str) -> DataFrame:
    return df.groupBy().agg(
        F.lit(kind).alias("kind"),
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_EVEN_SUM = (
    "SELECT COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value FROM evt WHERE event_id % 2 = 0"
)


@query(
    "table_scan_pushdown",
    oracle=f"""
    {EVENTS_ORACLE_CTE}
    SELECT event_id, user_id, event_type, value
    FROM evt
    WHERE event_type = 'click' AND value > 50
    ORDER BY event_id
    """,
    tags=("table", "scan", "pushdown"),
)
def table_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered scan through the table layer: the predicate prunes via
    per-file min/max stats before Spark reads, then re-applies
    exactly."""
    t = _events_table(spark, sf_dir)
    return (
        t.scan(
            columns=["event_id", "user_id", "event_type", "value"],
            where="event_type = 'click' AND value > 50",
        )
        .orderBy("event_id")
    )


@query(
    "table_time_travel",
    oracle=f"""
    {EVENTS_ORACLE_CTE},
    half AS (SELECT * FROM evt WHERE event_id % 2 = 0)
    SELECT 'version_as_of' AS kind, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value FROM half
    UNION ALL
    SELECT 'timestamp_as_of', COUNT(*), ROUND(SUM(value), 2) FROM half
    UNION ALL
    SELECT 'current', COUNT(*), ROUND(SUM(value), 2) FROM evt
    ORDER BY kind
    """,
    tags=("table", "time-travel"),
)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION AS OF + TIMESTAMP AS OF both resolve to snapshot 1 (the
    even half); the current read sees both snapshots."""
    t = _events_table(spark, sf_dir)
    snap1 = _snap1_id(t)
    ts1 = t.metadata.snapshot_by_id(snap1).timestamp_ms
    by_version = _summarize(t.scan(snapshot_id=snap1), "version_as_of")
    by_ts = _summarize(t.scan(as_of_timestamp_ms=ts1), "timestamp_as_of")
    current = _summarize(t.scan(), "current")
    return by_version.unionByName(by_ts).unionByName(current).orderBy("kind")


@query(
    "table_branch_tag_reads",
    oracle=f"""
    {EVENTS_ORACLE_CTE},
    half AS (SELECT * FROM evt WHERE event_id % 2 = 0)
    SELECT 'branch:audit' AS kind, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value FROM half
    UNION ALL
    SELECT 'main', COUNT(*), ROUND(SUM(value), 2) FROM evt
    UNION ALL
    SELECT 'tag:v1', COUNT(*), ROUND(SUM(value), 2) FROM half
    ORDER BY kind
    """,
    tags=("table", "branch", "tag"),
)
def table_branch_tag_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch and tag reads pin snapshot 1 (reference snapshot.rs
    Reference/Retention semantics); main has moved on."""
    t = _events_table(spark, sf_dir)
    return (
        _summarize(t.scan(branch="audit"), "branch:audit")
        .unionByName(_summarize(t.scan(), "main"))
        .unionByName(_summarize(t.scan(tag="v1"), "tag:v1"))
        .orderBy("kind")
    )


@query(
    "table_incremental_scan",
    oracle=f"""
    {EVENTS_ORACLE_CTE}
    SELECT event_id, event_type, value
    FROM evt
    WHERE event_id % 2 = 1
    ORDER BY event_id
    """,
    tags=("table", "incremental"),
)
def table_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changes between snapshot 1 and head = exactly the second append
    (the odd half); `replace` snapshots would be skipped."""
    t = _events_table(spark, sf_dir)
    return (
        t.incremental_scan(start_snapshot_id=_snap1_id(t))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@query(
    "table_snapshots_metadata",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'append'),
        (CAST(2 AS BIGINT), 'append')) AS t(sequence_number, operation)
    ORDER BY sequence_number
    """,
    tags=("table", "metadata-tables"),
)
def table_snapshots_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshots metadata table ("track changes, view snapshots" —
    reference README.md:27): two append commits in order."""
    t = _events_table(spark, sf_dir)
    return (
        t.snapshots()
        .select("sequence_number", "operation")
        .orderBy("sequence_number")
    )


@query(
    "table_operation_sequence",
    oracle=f"""
    {EVENTS_ORACLE_CTE},
    kept AS (SELECT * FROM evt WHERE event_id % 4 <> 3)
    SELECT 'op_1' AS kind, 'append' AS detail
    UNION ALL SELECT 'op_2', 'append'
    UNION ALL SELECT 'op_3', 'delete'
    UNION ALL SELECT 'op_4', 'replace'
    UNION ALL SELECT 'rows', CAST(COUNT(*) AS VARCHAR) FROM kept
    UNION ALL SELECT 'sum_cents',
              CAST(CAST(ROUND(SUM(value) * 100) AS BIGINT) AS VARCHAR) FROM kept
    ORDER BY kind
    """,
    tags=("table", "snapshot-operations", "delete", "compaction"),
)
def table_operation_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four snapshot operations of the reference's Operation enum
    (snapshot.rs:14-31) in one lifecycle: two appends, a copy-on-write
    DELETE, and a compaction (`replace` — files rewritten, data
    unchanged). The snapshots metadata table records the sequence and
    the surviving rows match the relational oracle."""
    events = load_table(spark, sf_dir, "events")
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_ops_"))
    t = catalog.create_table("db.events_ops", events.schema)
    t.append(events.where(F.col("event_id") % 2 == 0))
    t.append(events.where(F.col("event_id") % 2 == 1))
    t.delete("event_id % 4 = 3")
    t.compact()
    ops = t.snapshots().select(
        F.concat(F.lit("op_"), F.col("sequence_number").cast("string")).alias("kind"),
        F.col("operation").alias("detail"),
    )
    final = t.scan()
    stats = final.groupBy().agg(
        F.count("*").cast("string").alias("rows"),
        F.round(F.sum("value") * 100).cast("long").cast("string").alias("sum_cents"),
    )
    summary = stats.selectExpr(
        "stack(2, 'rows', rows, 'sum_cents', sum_cents) AS (kind, detail)"
    )
    return ops.unionByName(summary).orderBy("kind")


@query(
    "table_schema_evolution_scan",
    oracle=f"""
    {EVENTS_ORACLE_CTE}
    SELECT event_id, event_type, value,
           CASE WHEN event_id % 2 = 1 THEN 't-' || event_type END AS tag
    FROM evt
    WHERE event_id < 2000
    ORDER BY event_id
    """,
    tags=("table", "schema-evolution"),
)
def table_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations (reference
    table.rs:32-34, schemas list + current id): files written before
    ADD COLUMN read as null for the new field; both generations are
    scanned through the current schema by field id."""
    events = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    base = events.select("event_id", "event_type", "value")
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_evo_"))
    t = catalog.create_table("db.events_evolved", base.schema)
    t.append(base.where(F.col("event_id") % 2 == 0))
    t.add_column("tag", "string", doc="added after first append")
    t.append(
        base.where(F.col("event_id") % 2 == 1).withColumn(
            "tag", F.concat(F.lit("t-"), F.col("event_type"))
        )
    )
    return t.scan().orderBy("event_id")


@query(
    "table_add_files_name_mapping",
    oracle=f"""
    {EVENTS_ORACLE_CTE},
    native AS (SELECT event_id, event_type, value FROM evt WHERE event_id < 500),
    raw AS (SELECT event_id, event_type, value FROM evt
            WHERE event_id >= 500 AND event_id < 1500),
    unioned AS (SELECT * FROM native UNION ALL SELECT * FROM raw)
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM unioned
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("table", "add-files", "name-mapping"),
)
def table_add_files_name_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-mapping registration (reference schema.rs:242-260): raw
    parquet written with legacy column names (id/etype/val) and no
    field ids is registered in place via ``add_files`` + a name
    mapping, then scanned through the table schema alongside natively
    written files. Metadata-only ingest — no data rewrite."""
    from iceberg_rs_spark.model import NameMapping

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_addf_"))
    t = catalog.create_table("db.events_addf", events.schema)
    t.append(events.where(F.col("event_id") < 500))
    raw_dir = tempfile.mkdtemp(prefix="icelake_addf_raw_")
    (
        events.where((F.col("event_id") >= 500) & (F.col("event_id") < 1500))
        .select(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("etype"),
            F.col("value").alias("val"),
        )
        .write.mode("overwrite")
        .parquet(raw_dir)
    )
    sch = t.schema()
    t.add_files(
        raw_dir,
        name_mapping=[
            NameMapping(sch.field_by_name("event_id").id, ("event_id", "id")),
            NameMapping(sch.field_by_name("event_type").id, ("event_type", "etype")),
            NameMapping(sch.field_by_name("value").id, ("value", "val")),
        ],
    )
    return (
        t.scan()
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("event_type")
    )


@query(
    "table_typed_columns_roundtrip",
    oracle="""
    WITH src AS (
        SELECT o_orderkey,
               CAST(o_totalprice AS DECIMAL(12,2)) AS price_dec,
               concat(substr(md5(CAST(o_orderkey AS VARCHAR)),1,8), '-',
                      substr(md5(CAST(o_orderkey AS VARCHAR)),9,4), '-',
                      substr(md5(CAST(o_orderkey AS VARCHAR)),13,4), '-',
                      substr(md5(CAST(o_orderkey AS VARCHAR)),17,4), '-',
                      substr(md5(CAST(o_orderkey AS VARCHAR)),21,12)) AS row_uuid,
               CAST((o_orderkey % 86400) * 1000000 AS BIGINT) AS event_time,
               substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 16) AS key_fixed_hex
        FROM orders WHERE o_orderkey < 20000)
    SELECT o_orderkey,
           CAST(price_dec AS DOUBLE) AS price,
           row_uuid,
           event_time,
           key_fixed_hex
    FROM src
    ORDER BY o_orderkey
    """,
    tags=("table", "types", "decimal", "uuid", "time", "fixed"),
)
def table_typed_columns_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end coverage of the reference's typed columns that have
    no native Spark type (reference schema.rs:90-147): decimal(12,2),
    uuid (canonical string), time (long micros since midnight), and
    fixed[8] (length-enforced binary) are written through the table
    layer and scanned back. decimal→double and fixed→hex in the
    output so both engines hash identical representations; the
    *storage* exercises the declared types."""
    from iceberg_rs_spark.model import IceField, IcePrimitive, IceSchema, IceStruct

    schema = IceSchema(
        schema_id=0,
        struct=IceStruct(
            (
                IceField(1, "o_orderkey", True, IcePrimitive("long")),
                IceField(2, "price_dec", False, IcePrimitive("decimal(12,2)")),
                IceField(3, "row_uuid", False, IcePrimitive("uuid")),
                IceField(4, "event_time", False, IcePrimitive("time")),
                IceField(5, "key_fixed", False, IcePrimitive("fixed[8]")),
            )
        ),
    )
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 20000)
    md5k = F.md5(F.col("o_orderkey").cast("string"))
    src = orders.select(
        F.col("o_orderkey"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price_dec"),
        F.concat_ws(
            "-",
            F.substring(md5k, 1, 8),
            F.substring(md5k, 9, 4),
            F.substring(md5k, 13, 4),
            F.substring(md5k, 17, 4),
            F.substring(md5k, 21, 12),
        ).alias("row_uuid"),
        ((F.col("o_orderkey") % 86400) * 1000000).cast("long").alias("event_time"),
        F.unhex(F.substring(md5k, 1, 16)).alias("key_fixed"),
    )
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_typed_"))
    t = catalog.create_table("db.typed", schema)
    t.append(src)
    return (
        t.scan()
        .select(
            "o_orderkey",
            F.col("price_dec").cast("double").alias("price"),
            "row_uuid",
            "event_time",
            F.lower(F.hex(F.col("key_fixed"))).alias("key_fixed_hex"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "ingest_csv_json_parquet",
    oracle=f"""
    {EVENTS_ORACLE_CTE},
    base AS (SELECT COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value FROM evt)
    SELECT 'csv' AS fmt, n, sum_value FROM base
    UNION ALL SELECT 'json', n, sum_value FROM base
    UNION ALL SELECT 'parquet', n, sum_value FROM base
    ORDER BY fmt
    """,
    tags=("table", "ingest", "csv", "json", "parquet-sink"),
)
def ingest_csv_json_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink + ingest round-trip for every declared file format: write
    the events projection out as CSV, JSON and parquet, read each back
    with an explicit schema (§1.2 rule: inference only at ingest), and
    verify all three agree with the source."""
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    base = tempfile.mkdtemp(prefix="ingest_roundtrip_")
    schema = "event_id bigint, event_type string, value double"
    events.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    events.write.mode("overwrite").json(f"{base}/json")
    events.write.mode("overwrite").parquet(f"{base}/parquet")
    csv = spark.read.schema(schema).option("header", True).csv(f"{base}/csv")
    json_df = spark.read.schema(schema).json(f"{base}/json")
    parquet = spark.read.schema(schema).parquet(f"{base}/parquet")
    out = None
    for fmt, df in [("csv", csv), ("json", json_df), ("parquet", parquet)]:
        s = df.groupBy().agg(
            F.lit(fmt).alias("fmt"),
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        out = s if out is None else out.unionByName(s)
    return out.orderBy("fmt")


@query(
    "table_mor_delete",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS price
        FROM orders WHERE o_orderkey < 4000)
    SELECT o_orderkey, o_orderstatus, price
    FROM src
    WHERE NOT coalesce(o_orderstatus = 'F' AND price > 100000, FALSE)
    ORDER BY o_orderkey
    """,
    tags=("table", "delete", "merge-on-read"),
)
def table_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE (Iceberg v2 position-delete files; reference
    snapshot.rs:28-29): the predicate's row POSITIONS are written to
    delete files — no data file is rewritten — and the scan anti-joins
    them out via the parquet `_metadata.row_index` column. The hash
    check proves write-positions → manifest → scan-apply end to end;
    the builder also asserts the data files really were left in place.
    At 100 TB this is the delete path whose cost is proportional to the
    deleted rows, not the files containing them."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 4000)
    src = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_mor_"))
    t = catalog.create_table("db.mor", src.schema)
    t.append(src)
    data_before = {
        r.file_path for r in t.files().where("content = 'data'").collect()
    }
    t.delete("o_orderstatus = 'F' AND price > 100000", mode="merge-on-read")
    files = t.files().collect()
    assert {r.file_path for r in files if r.content == "data"} == data_before
    assert any(r.content == "position-deletes" for r in files)
    return t.scan().orderBy("o_orderkey")


@query(
    "table_merge_upsert_mor",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS price
        FROM orders WHERE o_orderkey < 3000),
    batch AS (
        SELECT o_orderkey, o_orderstatus, price * 2 AS price
        FROM src WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 1000000 AS o_orderkey, o_orderstatus, price
        FROM src WHERE o_orderkey < 50)
    SELECT o_orderkey, o_orderstatus, price FROM batch
    UNION ALL
    SELECT s.o_orderkey, s.o_orderstatus, s.price FROM src s
    WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    ORDER BY o_orderkey
    """,
    tags=("table", "merge", "merge-on-read"),
)
def table_merge_upsert_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE/upsert via Iceberg-v2 equality-delete files
    (reference snapshot.rs:28-29 + schema.rs:197 identifier_field_ids):
    one commit adds the batch as data files plus an equality-delete of
    the batch's keys; scans anti-join on key equality AND row-sequence
    < delete-sequence, so every pre-existing version of an upserted key
    dies while the batch's own rows survive. The hash check proves the
    whole write→sequence→scan pipeline; the builder also asserts no
    original data file was rewritten. At 100 TB this is the CDC path:
    write cost scales with the batch, not the table."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 3000)
    src = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    ups = src.where(F.col("o_orderkey") % 7 == 0).withColumn(
        "price", F.col("price") * 2
    )
    ins = src.where(F.col("o_orderkey") < 50).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1000000
    )
    batch = ups.unionByName(ins)
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_upsert_"))
    t = catalog.create_table("db.upsert_mor", src.schema)
    t.append(src)
    data_before = {
        r.file_path for r in t.files().where("content = 'data'").collect()
    }
    t.merge(batch, on=["o_orderkey"], mode="merge-on-read")
    files = t.files().collect()
    assert data_before <= {r.file_path for r in files if r.content == "data"}
    assert any(r.content == "equality-deletes" for r in files)
    return t.scan().orderBy("o_orderkey")


@query(
    "table_zorder_rewrite",
    oracle=f"""
    {EVENTS_ORACLE_CTE}
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM evt
    WHERE user_id >= 4 AND user_id <= 8 AND value >= 50
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("table", "rewrite", "zorder", "pruning"),
)
def table_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered rewrite end to end: unsorted appends →
    compact(strategy="zorder") on (user_id, value) → a two-dimensional
    predicate scan. The rewrite lays files along the Z-curve (each
    column's range-bucket rank, rescaled to the full bit range, bit-
    interleaved — sources/icelake.py:_cluster_for_write), so BOTH
    predicate columns prune files via min/max stats; the in-query
    assertion pins that the 2-D scan reads a strict subset of files
    whenever the table has more than one. The hash check proves the
    rewrite moved no data. This is CALL rewrite_data_files(strategy =>
    'sort', sort_order => 'zorder(...)') for a 100 TB table whose
    queries filter on two independent dimensions."""
    import tempfile

    from iceberg_rs_spark.sources.icelake import (
        Catalog,
        _bind_predicate,
        _split_by_predicate,
    )

    ev = load_table(spark, sf_dir, "events")
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_zorder_"))
    t = catalog.create_table("db.events_zorder", ev.schema)
    for i in range(2):
        t.append(ev.where(F.col("event_id") % 2 == i))
    t.compact(
        target_file_size_bytes=64 * 1024,
        cluster_by=["user_id", "value"],
        strategy="zorder",
    )
    where = "user_id >= 4 AND user_id <= 8 AND value >= 50"
    entries = t._current_entries(t.metadata)
    if len(entries) > 1:
        pred = _bind_predicate(spark, t.metadata, where)
        kept, _ = _split_by_predicate(entries, pred)
        assert len(kept) < len(entries), "z-order rewrite produced no pruning"
    return (
        t.scan(where=where)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("event_type")
    )


@query(
    "table_changelog_scan",
    oracle="""
    WITH src AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders WHERE o_orderkey < 3000),
    evens AS (SELECT * FROM src WHERE k % 2 = 0),
    odds  AS (SELECT * FROM src WHERE k % 2 = 1),
    d1 AS (SELECT * FROM evens WHERE status = 'F' AND price > 120000),
    live2 AS (SELECT * FROM evens EXCEPT ALL SELECT * FROM d1),
    live3 AS (SELECT * FROM live2 UNION ALL SELECT * FROM odds),
    d3 AS (SELECT * FROM live3 WHERE status = 'P')
    SELECT k, status, price, 'insert' AS change_type, 0 AS change_ordinal FROM evens
    UNION ALL SELECT k, status, price, 'delete', 1 FROM d1
    UNION ALL SELECT k, status, price, 'insert', 2 FROM odds
    UNION ALL SELECT k, status, price, 'delete', 3 FROM d3
    ORDER BY change_ordinal, change_type, k
    """,
    tags=("table", "changelog", "cdc", "merge-on-read"),
)
def table_changelog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level changelog across four commits (append, merge-on-read
    delete, append, copy-on-write delete) — the CDC-read surface over
    the reference's snapshot lineage (snapshot.rs:14-31): every row
    tagged insert/delete with its commit ordinal. Appends are read
    straight from their added files (no diff); the MoR and CoW deletes
    come out of exact state diffs (EXCEPT ALL between delete-applied
    parent/child scans), which is the only exact answer once
    copy-on-write has rewritten files. The hash check pins all four
    ordinals against a relational reconstruction of the same history."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 3000)
    src = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_changelog_"))
    t = catalog.create_table("db.changelog", src.schema)
    t.append(src.where(F.col("k") % 2 == 0))
    t.delete("status = 'F' AND price > 120000", mode="merge-on-read")
    t.append(src.where(F.col("k") % 2 == 1))
    t.delete("status = 'P'", mode="copy-on-write")
    ops = [s.operation for s in sorted(t.metadata.snapshots, key=lambda s: s.sequence_number)]
    assert ops == ["append", "delete", "append", "delete"], ops
    return (
        t.changelog_scan()
        .select(
            "k",
            "status",
            "price",
            F.col("_change_type").alias("change_type"),
            F.col("_change_ordinal").alias("change_ordinal"),
        )
        .orderBy("change_ordinal", "change_type", "k")
    )


@query(
    "table_rewrite_deletes",
    oracle="""
    WITH src AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders WHERE o_orderkey < 4000)
    SELECT k, status, price
    FROM src
    WHERE NOT coalesce(status = 'F' AND price > 150000, FALSE)
      AND NOT coalesce(status = 'O' AND price < 40000, FALSE)
    ORDER BY k
    """,
    tags=("table", "rewrite", "merge-on-read", "maintenance"),
)
def table_rewrite_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rewrite_position_delete_files: two merge-on-read deletes stack
    position-delete files, then the maintenance rewrite applies them to
    ONLY the referenced data files and drops the delete files — reads
    go back to pure scans without paying a full-table compaction. The
    in-query assertions pin the contract: delete files exist before,
    none remain after, and the final snapshot is a ``replace`` (data
    unchanged, snapshot.rs:25). The hash check proves the rewrite
    applied exactly the recorded positions."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 4000)
    src = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="icelake_rwdel_"))
    t = catalog.create_table("db.rwdel", src.schema)
    t.append(src)
    t.delete("status = 'F' AND price > 150000", mode="merge-on-read")
    t.delete("status = 'O' AND price < 40000", mode="merge-on-read")
    files = t.files().collect()
    assert any(r.content == "position-deletes" for r in files)
    n = t.rewrite_position_deletes()
    assert n >= 1
    files_after = t.files().collect()
    assert not any(r.content == "position-deletes" for r in files_after)
    last = max(t.metadata.snapshots, key=lambda s: s.sequence_number)
    assert last.operation == "replace"
    return t.scan().orderBy("k")
