"""Predicate pruning: Spark binds ``where``, one three-valued evaluator
decides per file (sources/icelake.py `_bind_predicate`,
`_file_outcomes`).

Two layers of checks:

- regression tests for defects of the former string parser (an
  ``OR`` read as one string literal) and of stats that leave NaN out;
- a Hypothesis differential over random predicate trees × multi-file
  tables under identity, ``day(ts)``, ``bucket`` and ``truncate``
  specs: for every file, the outcomes ``where`` actually takes on its
  rows must be a subset of the outcomes the evaluator allows. That one
  property covers both uses of the mask — "may match" (scan pruning)
  and "must match" (the metadata-only delete).
"""

from __future__ import annotations

import datetime as dt
import math
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from iceberg_rs_spark.sources import icelake

NAN = float("nan")
LA = "America/Los_Angeles"  # a session time zone with DST
SCHEMA = "k string, n long, v double, ts timestamp_ntz, tz timestamp"
COLS = ("k", "n", "v", "ts", "tz")


@pytest.fixture()
def catalog(spark, tmp_path):
    from iceberg_rs_spark.sources.icelake import Catalog

    return Catalog(spark, str(tmp_path / "wh"))


def _canon(df, cols=COLS) -> list[str]:
    """Rows as sorted reprs: NaN compares unequal to itself in tuples."""
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


@contextmanager
def session_tz(spark, tz: str):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _two_file_table(catalog, spark, name):
    """Files {a:1.0, a:NaN} and {b:2.0, c:3.0}."""
    t = catalog.create_table(name, spark.createDataFrame([], "k string, value double").schema)
    for rows in ([("a", 1.0), ("a", NAN)], [("b", 2.0), ("c", 3.0)]):
        t.append(spark.createDataFrame(rows, "k string, value double").coalesce(1))
    assert len(t._current_entries(t.metadata)) == 2
    return t


class TestRegressions:
    OR_WHERE = "k = 'a' OR k = 'c'"  # 3 rows, one in each file

    def test_or_scan(self, catalog, spark):
        t = _two_file_table(catalog, spark, "db.or_scan")
        assert t.scan(where=self.OR_WHERE).count() == 3

    def test_or_merge_on_read_delete(self, catalog, spark):
        t = _two_file_table(catalog, spark, "db.or_mor")
        assert t.delete(self.OR_WHERE, mode="merge-on-read") == 3
        assert [r.k for r in t.scan().collect()] == ["b"]

    def test_nan_scan(self, catalog, spark):
        t = _two_file_table(catalog, spark, "db.nan_scan")
        # Spark orders NaN above every number; parquet max leaves it out
        assert t.scan(where="value > 5").count() == 1

    def test_nan_copy_on_write_delete(self, catalog, spark):
        t = _two_file_table(catalog, spark, "db.nan_cow")
        assert t.delete("value > 5") == 1
        assert t.scan().count() == 3
        assert t.scan(where="isnan(value)").count() == 0

    def test_renamed_column_stats_follow_field_id(self, catalog, spark):
        """Stats are keyed by the name a file was written with: after
        ``x`` is renamed to ``y`` and a new ``x`` added, the old file's
        ``x`` stats describe ``y``, and the new ``x`` reads NULL there."""
        df = spark.createDataFrame([(i, 5) for i in range(3)], "id long, x long")
        t = catalog.create_table("db.renamed", df.schema)
        t.append(df.coalesce(1))
        t.rename_column("x", "y")
        t.add_column("x", "long")
        assert t.scan(where="x IS NULL").count() == 3
        assert t.scan(where="y = 5").count() == 3
        assert t.delete("x = 5") == 0
        assert t.scan().count() == 3

    @staticmethod
    def _raw_table(catalog, spark, tmp_path, name, mapping, files):
        """A ``a long, b long`` table whose rows come from pyarrow files
        ``{file name: {raw column: values}}`` registered with add_files;
        ``mapping`` is ``{field name: raw names}``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from iceberg_rs_spark.model import NameMapping

        raw_dir = tmp_path / name
        raw_dir.mkdir()
        for fname, cols in files.items():
            pq.write_table(
                pa.table({c: pa.array(v, pa.int64()) for c, v in cols.items()}),
                raw_dir / fname,
            )
        t = catalog.create_table(
            f"db.{name}", spark.createDataFrame([], "a long, b long").schema
        )
        sch = t.schema()
        t.add_files(
            str(raw_dir),
            name_mapping=[
                NameMapping(sch.field_by_name(f).id, names) for f, names in mapping.items()
            ],
        )
        return t

    def test_add_files_two_name_mapping_prunes(self, catalog, spark, tmp_path):
        """Raw files registered under a (current name, raw name) mapping
        prune on the raw column's stats."""
        t = self._raw_table(
            catalog, spark, tmp_path, "raw_prune",
            {"a": ("a", "ra"), "b": ("b", "rb")},
            {"lo.parquet": {"ra": list(range(10)), "rb": [1] * 10},
             "hi.parquet": {"ra": list(range(100, 110)), "rb": [2] * 10}},
        )
        md = t.metadata
        may, no = icelake._split_by_predicate(
            t._current_entries(md), icelake._bind_predicate(spark, md, "a < 50 AND b = 1")
        )
        assert [e.path.rsplit("/", 1)[1] for e in may] == ["lo.parquet"]
        assert len(no) == 1
        assert t.scan(where="a < 50 AND b = 1").count() == 10

    def test_add_files_swapped_names_are_exact(self, catalog, spark, tmp_path):
        """Field ``a`` reads raw column ``b`` and field ``b`` raw ``a``:
        each field's stats are its own raw column's, so neither a scan
        nor the metadata-only delete reads the other field's interval."""
        mapping = {"a": ("b",), "b": ("a",)}
        files = {"f.parquet": {"a": list(range(100, 110)), "b": list(range(10))}}
        for mode in ("copy-on-write", "merge-on-read"):
            t = self._raw_table(
                catalog, spark, tmp_path, f"raw_swap_{mode[0]}", mapping, files
            )
            assert sorted(r.a for r in t.scan().collect()) == list(range(10))
            for where, n in {"a < 10": 10, "a >= 100": 0, "b >= 100": 10, "b < 10": 0}.items():
                assert t.scan(where=where).count() == n, where
            assert t.delete("a >= 100", mode=mode) == 0
            assert t.scan().count() == 10
            assert t.delete("a < 5", mode=mode) == 5
            assert sorted(r.b for r in t.scan().collect()) == list(range(105, 110))

    def test_add_files_files_spelling_a_field_differently(self, catalog, spark, tmp_path):
        """One add_files call registering files that use different mapped
        names for a field: each file reads its own column."""
        t = self._raw_table(
            catalog, spark, tmp_path, "raw_mixed",
            {"a": ("a", "ra"), "b": ("b", "rb")},
            {"x.parquet": {"a": [1, 2], "b": [10, 20]},
             "y.parquet": {"ra": [3, 4], "rb": [30, 40]}},
        )
        assert sorted(tuple(r) for r in t.scan().collect()) == [
            (1, 10), (2, 20), (3, 30), (4, 40)
        ]
        assert t.scan(where="b > 25").count() == 2
        assert t.delete("a = 3") == 1
        assert sorted(r.a for r in t.scan().collect()) == [1, 2, 4]

    def test_timestamp_literal_in_session_time_zone(self, catalog, spark, tmp_path):
        """A TIMESTAMP literal means an instant in the session zone:
        under America/Los_Angeles '2024-01-01 00:00:00' is 08:00 UTC.
        File A holds 05:00-07:00 UTC, file B 09:00-10:00 UTC."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from iceberg_rs_spark.model import NameMapping

        utc = dt.timezone.utc
        for name, hours in (("a", (5, 7)), ("b", (9, 10))):
            ts = [dt.datetime(2024, 1, 1, h, tzinfo=utc) for h in hours]
            pq.write_table(
                pa.table({"id": pa.array([1, 2], pa.int64()),
                          "tz": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
                tmp_path / f"{name}.parquet",
            )
        t = catalog.create_table(
            "db.ltz", spark.createDataFrame([], "id long, tz timestamp").schema
        )
        t.add_files(
            str(tmp_path),
            name_mapping=[NameMapping(1, ("id",)), NameMapping(2, ("tz",))],
        )
        with session_tz(spark, LA):
            where = "tz < TIMESTAMP '2024-01-01 00:00:00'"
            assert t.scan(where=where).count() == 2
            md = t.metadata
            may, no = icelake._split_by_predicate(
                t._current_entries(md), icelake._bind_predicate(spark, md, where)
            )
            assert [e.path.rsplit("/", 1)[1] for e in may] == ["a.parquet"]
            assert len(no) == 1

    def test_outcome_masks(self, spark):
        """Leaf masks on one synthetic file: n in [10, 20] with nulls,
        v in [1.0, 2.0] with unknown NaN, k all non-null."""
        from iceberg_rs_spark.model import (
            IceField,
            IcePrimitive,
            IceSchema,
            IceStruct,
            PartitionSpec,
            SortOrder,
            TableMetadata,
        )

        schema = IceSchema(0, IceStruct((
            IceField(1, "n", False, IcePrimitive("long")),
            IceField(2, "v", False, IcePrimitive("double")),
            IceField(3, "k", False, IcePrimitive("string")),
        )))
        md = TableMetadata(
            table_uuid="00000000-0000-0000-0000-000000000000",
            location="/wh/db/t",
            last_sequence_number=1,
            last_updated_ms=0,
            last_column_id=3,
            schemas=(schema,),
            current_schema_id=0,
            partition_specs=(PartitionSpec(spec_id=0, fields=()),),
            default_spec_id=0,
            last_partition_id=999,
            sort_orders=(SortOrder(order_id=0),),
            default_sort_order_id=0,
        )
        e = icelake.DataFileEntry(
            path="f", record_count=10, file_size_bytes=1, schema_id=0, spec_id=0,
            partition={},
            stats={"n": {"min": 10, "max": 20, "nulls": 2},
                   "v": {"min": 1.0, "max": 2.0, "nulls": 0},
                   "k": {"min": "a", "max": "a", "nulls": 0}},
        )

        def mask(where):
            return icelake._file_outcomes(icelake._bind_predicate(spark, md, where), e)

        T, FALSE, N = icelake._T, icelake._F, icelake._N
        assert mask("n = 5") == FALSE | N
        assert mask("n >= 10") == T | N
        assert mask("n > 20 OR k = 'a'") == T
        assert mask("NOT (k = 'a')") == FALSE
        assert mask("k = 'a' AND n IS NOT NULL") == T | FALSE
        assert mask("v > 5") == T | FALSE  # a NaN row would be TRUE
        assert mask("v < 5") == T | FALSE  # ... and FALSE here
        assert mask("v = 'NaN'") == T | FALSE
        assert mask("n IN (1, NULL)") == N  # never TRUE, never FALSE
        assert mask("k LIKE 'a%'") == icelake._ALL
        assert mask("no_such_column = 1") == icelake._ALL


# ---------------------------------------------------------------------------
# Hypothesis differential
# ---------------------------------------------------------------------------

STRINGS = ["a", "b", "it's", "''", "", "a\\b", "zz", "B"]
LONGS = [-5, 0, 3, 7, 12, 25, 40]
DOUBLES = [-1.5, -0.0, 0.0, 2.5, 7.0, math.inf, NAN]
DAY0 = dt.datetime(2024, 3, 9)
TIMESTAMPS = [DAY0 + dt.timedelta(hours=h) for h in (0, 5, 23, 24, 30, 47, 49, 70)]
#: instants around Los Angeles' 2024 DST gap (Mar 10, 10:00 UTC) and
#: fold (Nov 3, 08:00-10:00 UTC)
INSTANTS = [
    (t + dt.timedelta(hours=h)).replace(tzinfo=dt.timezone.utc)
    for t in (dt.datetime(2024, 3, 10), dt.datetime(2024, 11, 3))
    for h in (1, 7, 9.5, 10.5, 16)
]
#: session-local text: the LA gap, the LA fold, and plain hours
TZ_TEXTS = [
    "2024-03-10 02:30:00", "2024-11-03 01:30:00", "2024-11-03 00:59:59",
    "2024-03-09 20:00:00", "2024-03-10 10:00:00", "2024-11-02 23:00:00",
    "2024-11-03 09:30:00",
]
SPECS = {
    "identity": [("k", "identity")],
    "day": [("ts", "day"), ("tz", "day")],
    "bucket": [("n", "bucket[4]"), ("tz", "bucket[3]")],
    "truncate": [("n", "truncate[10]"), ("k", "truncate[1]")],
}


def _rows():
    """40 rows; every column is NULL on some rows."""
    out = []
    for i in range(40):
        out.append((
            None if i % 9 == 4 else STRINGS[i % len(STRINGS)],
            None if i % 11 == 3 else LONGS[(i * 3) % len(LONGS)],
            None if i % 7 == 6 else DOUBLES[(i * 5) % len(DOUBLES)],
            None if i % 13 == 5 else TIMESTAMPS[(i * 7) % len(TIMESTAMPS)],
            None if i % 8 == 1 else INSTANTS[(i * 3) % len(INSTANTS)],
        ))
    return out


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _sql_double(x: float) -> str:
    if math.isnan(x):
        return "double('NaN')"
    if math.isinf(x):
        return "double('inf')"
    return repr(x)


def _predicates():
    from hypothesis import strategies as st

    lits = {
        "k": st.sampled_from(STRINGS + ["c"]).map(_sql_str),
        "n": st.sampled_from(LONGS + [1, 100]).map(str),
        "v": st.sampled_from(DOUBLES + [1.0]).map(_sql_double),
        "ts": st.sampled_from(TIMESTAMPS + [DAY0 + dt.timedelta(hours=12)]).flatmap(
            lambda d: st.sampled_from([
                f"TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}'",
                f"TIMESTAMP_NTZ '{d:%Y-%m-%d %H:%M:%S}'",
                f"'{d:%Y-%m-%d}'",
            ])
        ),
        "tz": st.sampled_from(TZ_TEXTS).flatmap(
            lambda s: st.sampled_from([
                f"TIMESTAMP '{s}'", f"TIMESTAMP_NTZ '{s}'", f"'{s[:10]}'",
                f"TIMESTAMP '{s}Z'",
            ])
        ),
    }
    ops = st.sampled_from(["=", "!=", "<", "<=", ">", ">="])

    @st.composite
    def leaf(draw):
        col = draw(st.sampled_from(sorted(lits)))
        shape = draw(st.sampled_from(["cmp", "flip", "in", "null"]))
        if shape == "null":
            return f"{col} IS {draw(st.sampled_from(['', 'NOT ']))}NULL"
        if shape == "in":
            items = draw(st.lists(lits[col] | st.just("NULL"), min_size=1, max_size=3))
            neg = draw(st.sampled_from(["", "NOT "]))
            return f"{col} {neg}IN ({', '.join(items)})"
        lit, op = draw(lits[col]), draw(ops)
        return f"{col} {op} {lit}" if shape == "cmp" else f"{lit} {op} {col}"

    return st.recursive(
        leaf(),
        lambda sub: st.one_of(
            st.tuples(sub, st.sampled_from(["AND", "OR"]), sub).map(
                lambda t: f"({t[0]}) {t[1]} ({t[2]})"
            ),
            sub.map(lambda s: f"NOT ({s})"),
        ),
        max_leaves=4,
    )


def _build(catalog, spark, name, spec):
    """Two appends, so per-file stats are narrow. Spark's parquet writer
    puts NaN in a float file's max; `_build_raw` covers a writer that
    leaves it out."""
    df = spark.createDataFrame(_rows(), SCHEMA)
    t = catalog.create_table(name, df.schema, partition_by=spec)
    for i in range(2):
        t.append(df.where(F.abs(F.hash("k", "n")) % 2 == i).coalesce(2))
    return t


def _build_raw(catalog, spark, raw_dir):
    """The rows as four pyarrow-written files registered with add_files,
    grouped by ``v`` so NaN shares a file with -1.5 only: pyarrow leaves
    NaN out of min/max, so that file's stats read [-1.5, -1.5]. Odd
    files spell every column ``r<name>``, the mapping's second name;
    ``tz`` is written UTC-adjusted, so its stats carry the zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_rs_spark.model import NameMapping

    df = spark.createDataFrame(_rows(), SCHEMA)
    t = catalog.create_table("db.diff_raw", df.schema)
    group = {-1.5: 0, -0.0: 1, 2.5: 2, 7.0: 2, math.inf: 3, None: 3}
    for i in range(4):
        rows = [r for r in _rows() if group.get(r[2], 0) == i]  # NaN → 0
        types = (pa.string(), pa.int64(), pa.float64(), pa.timestamp("us"),
                 pa.timestamp("us", tz="UTC"))
        pq.write_table(
            pa.table({
                "r" * (i % 2) + c: pa.array([r[j] for r in rows], ty)
                for j, (c, ty) in enumerate(zip(COLS, types))
            }),
            raw_dir / f"part-{i}.parquet",
        )
    fields = t.metadata.current_schema().fields
    t.add_files(
        str(raw_dir), name_mapping=[NameMapping(f.id, (f.name, "r" + f.name)) for f in fields]
    )
    return t


@pytest.fixture(scope="module")
def diff_tables(spark, tmp_path_factory):
    from iceberg_rs_spark.sources.icelake import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("pred_wh")))
    tables = {k: _build(catalog, spark, f"db.diff_{k}", spec) for k, spec in SPECS.items()}
    tables["raw"] = _build_raw(catalog, spark, tmp_path_factory.mktemp("pred_raw"))
    return tables


@pytest.fixture(scope="module")
def diff_rows(spark, diff_tables):
    """Every table's rows with the file each was read from, held as a
    local relation so each example evaluates ``where`` in one small job."""
    from iceberg_rs_spark.sources.icelake import _strip_file_scheme

    rows = []
    for name, t in diff_tables.items():
        paths = {e.path for e in t._current_entries(t.metadata)}
        scan = t.scan().select(F.input_file_name().alias("f"), *COLS)
        for r in scan.collect():
            f = _strip_file_scheme(r.f)
            assert f in paths, f  # every row maps to a manifest entry
            rows.append((name, f, *r[1:]))
    df = spark.createDataFrame(rows, "t string, f string, " + SCHEMA).coalesce(1).cache()
    yield df
    df.unpersist()


def _outcome_col(where: str):
    c = F.expr(where)
    outcome = F.when(c, F.lit(icelake._T)).otherwise(F.lit(icelake._F))
    return F.when(c.isNull(), F.lit(icelake._N)).otherwise(outcome)


def test_evaluator_mask_covers_actual_outcomes(spark, diff_tables, diff_rows):
    """Per file, the outcomes ``where`` takes on its rows must be a
    subset of `_file_outcomes`'s mask — in UTC and in a session zone
    with DST."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(where=_predicates(), tz=st.sampled_from(["UTC", LA]))
    # LA evening: a later UTC day; the DST gap; the DST fold
    @example(where="tz < TIMESTAMP '2024-03-09 20:00:00'", tz=LA)
    @example(where="tz = TIMESTAMP '2024-03-10 02:30:00'", tz=LA)
    @example(where="tz <= TIMESTAMP '2024-11-03 01:30:00'", tz=LA)
    def check(where, tz):
        with session_tz(spark, tz):
            actual: dict[tuple, int] = {}
            for r in diff_rows.select("t", "f", _outcome_col(where).alias("o")).collect():
                actual[(r.t, r.f)] = actual.get((r.t, r.f), 0) | r.o
            for name, t in diff_tables.items():
                md = t.metadata
                pred = icelake._bind_predicate(spark, md, where)
                for e in t._current_entries(md):
                    got = actual.get((name, e.path), 0)
                    mask = icelake._file_outcomes(pred, e)
                    assert got & ~mask == 0, (where, tz, name, e.stats, got, mask)

    check()


@pytest.mark.parametrize(
    "where,tz,spec",
    [
        ("k = 'it''s' OR NOT (n IN (3, NULL))", "UTC", "identity"),
        ("(v > 5 OR v = double('NaN')) AND k IS NOT NULL", LA, "truncate"),
        ("ts >= TIMESTAMP '2024-03-10 00:00:00' AND n NOT IN (7, 12)", LA, "day"),
        ("NOT (k < 'b') OR ts IS NULL OR n = 25", "UTC", "bucket"),
        ("tz = TIMESTAMP '2024-03-10 02:30:00' OR n = 7", LA, "bucket"),
        ("tz < TIMESTAMP '2024-03-09 20:00:00' OR tz >= '2024-11-03 09:30'", LA, "day"),
    ],
)
def test_scan_and_delete_exactness(spark, diff_tables, tmp_path, where, tz, spec):
    """scan(where) equals scan().filter(where) on every spec, and
    delete(where) leaves exactly the rows where ``where`` is not TRUE,
    in both delete modes."""
    from iceberg_rs_spark.sources.icelake import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    with session_tz(spark, tz):
        for t in diff_tables.values():
            assert _canon(t.scan(where=where)) == _canon(t.scan().filter(where)), where
        for mode in ("copy-on-write", "merge-on-read"):
            td = _build(catalog, spark, f"db.ex_{mode[0]}", SPECS[spec])
            # expected from the table's own rows: an identity partition
            # reads '' back as NULL
            exp_kept = _canon(td.scan().where(f"NOT coalesce({where}, false)"))
            assert td.delete(where, mode=mode) == len(_rows()) - len(exp_kept)
            assert _canon(td.scan()) == exp_kept, (mode, where)
