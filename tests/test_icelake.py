"""Table-lifecycle tests (SURVEY.md §7 M2/M3 + §5.4): every write op
pins its snapshot ``operation`` (reference snapshot.rs:14-31), the M2
end-to-end slice verifies hidden-partition pruning against the file
manifest, and time travel / branches / schema evolution round-trip."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from iceberg_rs_spark.sources.fixtures import load_table
from iceberg_rs_spark.sources.icelake import Catalog
from tests.conftest import diff_seeds


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"))


@pytest.fixture()
def events_df(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _ops(table):
    return [r["operation"] for r in table.snapshots().orderBy("sequence_number").collect()]


class TestLifecycle:
    def test_m2_end_to_end_slice(self, spark, catalog, events_df, duck, sf_dir):
        """create PARTITIONED BY (days(ts), bucket(16,user_id)) → append
        → filtered agg matches duckdb → pruning verified via files()."""
        t = catalog.create_table(
            "db.events",
            events_df.schema,
            partition_by=[("ts", "day"), ("user_id", "bucket[16]")],
        )
        t.append(events_df)
        assert _ops(t) == ["append"]

        where = "ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'"
        got = (
            t.scan(where=where)
            .groupBy("event_type")
            .agg(F.round(F.sum("value"), 2).alias("sum_value"))
            .orderBy("event_type")
            .collect()
        )
        exp = duck.sql(
            f"""SELECT event_type, ROUND(SUM(value), 2) AS sum_value
                FROM events WHERE {where}
                GROUP BY event_type ORDER BY event_type"""
        ).fetchall()
        assert [(r["event_type"], r["sum_value"]) for r in got] == exp

        # pruning: scanned files must be a strict subset (2 days of ~30)
        total_files = t.files().count()
        entries, _ = self._pruned(t, where)
        assert 0 < len(entries) < total_files

    @staticmethod
    def _pruned(t, where):
        from iceberg_rs_spark.sources.icelake import _bind_predicate, _split_by_predicate

        md = t.metadata
        return _split_by_predicate(
            t._current_entries(md), _bind_predicate(t.spark, md, where)
        )

    def test_append_overwrite_delete_replace_operations(self, catalog, events_df):
        """Snapshot summary.operation matches the commit kind — the
        behavioral pin on reference snapshot.rs:18-31 (SURVEY.md §5.4)."""
        t = catalog.create_table("db.ops", events_df.schema, partition_by=[("ts", "day")])
        t.append(events_df)
        t.append(events_df)
        n2 = t.to_df().count()
        assert n2 == 2 * events_df.count()

        deleted = t.delete("event_type = 'click'")
        assert deleted > 0
        assert t.to_df().where("event_type = 'click'").count() == 0

        t.compact(target_file_size_bytes=1 << 30)
        assert t.to_df().count() == n2 - deleted

        t.overwrite(events_df.limit(10))
        assert t.to_df().count() == 10

        assert _ops(t) == ["append", "append", "delete", "replace", "overwrite"]

    def test_overwrite_partitions_dynamic(self, catalog, events_df, spark):
        t = catalog.create_table("db.dyn", events_df.schema, partition_by=[("ts", "day")])
        t.append(events_df)
        before = t.to_df().count()
        one_day = events_df.where(
            (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-06")
        )
        replacement = one_day.withColumn("value", F.lit(0.0))
        t.overwrite_partitions(replacement)
        after = t.to_df()
        assert after.count() == before  # same rows per partition
        day_vals = after.where((F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-06"))
        assert day_vals.agg(F.sum("value")).first()[0] == 0.0
        other = after.where(F.col("ts") < "2024-01-05").agg(F.sum("value")).first()[0]
        assert other > 0

    def test_merge_upsert(self, catalog, spark, events_df):
        t = catalog.create_table("db.merge", events_df.schema)
        t.append(events_df.limit(100))
        src = (
            events_df.limit(50).withColumn("value", F.lit(-1.0))
            .unionByName(
                events_df.limit(120).subtract(events_df.limit(100))  # 20 new rows
            )
        )
        t.merge(src, on=["event_id"])
        out = t.to_df()
        assert out.count() == 120
        assert out.where("value = -1.0").count() == 50
        assert _ops(t)[-1] == "overwrite"

    def test_time_travel_and_rollback(self, catalog, events_df):
        t = catalog.create_table("db.tt", events_df.schema)
        t.append(events_df.limit(10))
        snap1 = t.metadata.current_snapshot_id
        t.append(events_df.limit(30).subtract(events_df.limit(10)))
        assert t.to_df().count() == 30
        # VERSION AS OF
        assert t.scan(snapshot_id=snap1).count() == 10
        # TIMESTAMP AS OF
        ts1 = t.metadata.snapshot_by_id(snap1).timestamp_ms
        assert t.scan(as_of_timestamp_ms=ts1).count() == 10
        # nonexistent snapshot → error (negative test, SURVEY.md §5.2)
        with pytest.raises(KeyError):
            t.scan(snapshot_id=12345)
        # rollback
        t.rollback_to_snapshot(snap1)
        assert t.to_df().count() == 10

    def test_branches_and_tags(self, catalog, events_df):
        t = catalog.create_table("db.refs", events_df.schema)
        t.append(events_df.limit(10))
        t.create_tag("v1")
        t.create_branch("dev", min_snapshots_to_keep=2)
        t.append(events_df.limit(40).subtract(events_df.limit(10)), branch="dev")
        # main unchanged; dev ahead
        assert t.to_df().count() == 10
        assert t.scan(branch="dev").count() == 40
        assert t.scan(tag="v1").count() == 10
        refs = {r["name"]: r for r in t.refs().collect()}
        assert refs["v1"]["type"] == "tag" and refs["dev"]["type"] == "branch"
        assert refs["dev"]["min_snapshots_to_keep"] == 2

    def test_expire_snapshots(self, catalog, events_df):
        t = catalog.create_table("db.exp", events_df.schema)
        for i in range(4):
            t.overwrite(events_df.limit(10 * (i + 1)))
        assert len(t.metadata.snapshots) == 4
        removed = t.expire_snapshots(retain_last=1)
        assert len(removed) == 3
        assert t.to_df().count() == 40  # head intact
        assert len(t.metadata.snapshots) == 1

    def test_expire_keeps_files_shared_with_kept_snapshots(
        self, catalog, events_df
    ):
        """An append chain's snapshots SHARE data files (each manifest
        lists the full entry set); expiring an old append must delete
        only files no kept snapshot references — dropping a shared file
        would hollow out the live head."""
        import os

        t = catalog.create_table("db.expshare", events_df.schema)
        t.append(events_df.limit(10))
        first_files = {
            r.file_path
            for r in t.files().where("content = 'data'").collect()
        }
        t.append(events_df.limit(30).subtract(events_df.limit(10)))
        assert t.to_df().count() == 30
        removed = t.expire_snapshots(retain_last=1)
        assert len(removed) == 1
        # the first append's files ride in the kept head's manifest —
        # they must survive both on disk and in the read path
        assert all(os.path.exists(p) for p in first_files)
        assert t.to_df().count() == 30

    def test_commit_retry_property(self, catalog, events_df, monkeypatch):
        t = catalog.create_table(
            "db.retry", events_df.schema, properties={"commit.retry.num-retries": "0"}
        )
        t.append(events_df.limit(5))
        # simulate a racer winning every version slot
        import iceberg_rs_spark.sources.icelake as lake

        orig = lake._write_metadata_version

        def always_conflict(location, version, md):
            raise FileExistsError(version)

        monkeypatch.setattr(lake, "_write_metadata_version", always_conflict)
        with pytest.raises(lake.CommitConflict):
            t.append(events_df.limit(5))
        monkeypatch.setattr(lake, "_write_metadata_version", orig)


class TestSchemaEvolution:
    def test_add_rename_drop_widen_across_file_generations(self, catalog, spark, events_df):
        t = catalog.create_table("db.evo", events_df.limit(10).schema)
        t.append(events_df.limit(10))

        t.add_column("score", "double", doc="quality score")
        t.rename_column("props", "properties")
        t.append(
            events_df.limit(25)
            .subtract(events_df.limit(10))
            .withColumnRenamed("props", "properties")
            .withColumn("score", F.lit(1.5))
        )
        df = t.to_df()
        assert "properties" in df.columns and "props" not in df.columns
        # old files read with NULL score; new files carry it
        assert df.where(F.col("score").isNull()).count() == 10
        assert df.where(F.col("score") == 1.5).count() == 15

        t.drop_column("score")
        assert "score" not in t.to_df().columns

        with pytest.raises(ValueError):
            t.update_column_type("event_type", "long")  # unsafe
        t.update_column_type("user_id", "long")  # already long → no-op widen?
        # int → long widening on a fresh table
        t2 = catalog.create_table(
            "db.evo2",
            spark.range(5).select(F.col("id").cast("int").alias("v")).schema,
        )
        t2.append(spark.range(5).select(F.col("id").cast("int").alias("v")))
        t2.update_column_type("v", "long")
        assert dict(t2.to_df().dtypes)["v"] == "bigint"
        assert t2.to_df().agg(F.sum("v")).first()[0] == 10

    def test_drop_then_readd_same_name_never_resurrects(self, catalog, spark):
        """The classic field-id trap (schema.rs:190-208 — column
        identity is the field ID, never the name): dropping a column
        and re-adding one with the SAME NAME mints a fresh field id, so
        rows written before the drop must read NULL for the re-added
        column — a name-based projection would silently resurrect the
        old values. Time travel to a pre-drop snapshot still shows the
        original values under that snapshot's own stamped schema. The
        randomized evolution sweep never re-uses a name (its columns
        are c1/r2/...), so this pin holds the one aliasing case it
        cannot reach."""
        df1 = spark.createDataFrame([(1, 10), (2, 20)], "id long, score long")
        t = catalog.create_table("db.readd_name", df1.schema)
        t.append(df1)
        snap1 = t.metadata.current_snapshot_id
        old_fid = t.metadata.current_schema().field_by_name("score").id
        t.drop_column("score")
        t.append(spark.createDataFrame([(3,)], "id long"))
        t.add_column("score", "long")
        assert t.metadata.current_schema().field_by_name("score").id != old_fid
        t.append(spark.createDataFrame([(4, 99)], "id long, score long"))
        assert sorted((r.id, r.score) for r in t.to_df().collect()) == [
            (1, None), (2, None), (3, None), (4, 99),
        ]
        assert sorted(
            (r.id, r.score) for r in t.scan(snapshot_id=snap1).collect()
        ) == [(1, 10), (2, 20)]

    def test_partition_spec_evolution(self, catalog, events_df):
        t = catalog.create_table("db.pevo", events_df.schema, partition_by=[("ts", "day")])
        t.append(events_df.limit(100))
        t.set_partition_spec([("ts", "month"), ("event_type", "identity")])
        t.append(events_df.limit(200).subtract(events_df.limit(100)))
        # both generations readable
        assert t.to_df().count() == 200
        specs = {e.spec_id for e in t._current_entries(t.metadata)}
        assert specs == {0, 1}

    def test_sort_order_declaration(self, catalog, events_df):
        t = catalog.create_table(
            "db.sorted",
            events_df.schema,
            sort_by=[("user_id", "identity", "asc", "nulls-first")],
        )
        t.append(events_df)
        md = t.metadata
        assert not md.default_sort_order().is_unsorted
        t.write_ordered_by([("value", "identity", "desc", "nulls-last")])
        assert t.metadata.default_sort_order().fields[0].direction == "desc"


class TestPruning:
    def test_stats_pruning_on_sorted_table(self, catalog, events_df):
        """With the table write-ordered by user_id, min/max stats on
        user_id become disjoint across files → stats-only skipping."""
        t = catalog.create_table(
            "db.skip",
            events_df.schema,
            sort_by=[("user_id", "identity", "asc", "nulls-first")],
        )
        # several appends → several files, each covering the full range,
        # then compact: still one file; use repartition writes instead
        t.append(events_df.repartition(8))
        from iceberg_rs_spark.sources.icelake import _bind_predicate, _split_by_predicate

        md = t.metadata
        entries = t._current_entries(md)
        # equality on a single user prunes to files whose range covers it
        may, no = _split_by_predicate(
            entries, _bind_predicate(t.spark, md, "user_id = 3")
        )
        assert len(may) >= 1
        got = t.scan(where="user_id = 3").count()
        assert got == events_df.where("user_id = 3").count()

    def test_bucket_pruning_long_column_int_literal(self, catalog, events_df):
        """Regression (r5): Spark's murmur3 hash() is type-sensitive —
        an int literal hashes 4 bytes while the long column hashes 8 —
        so bucket pruning must cast the literal to the SOURCE column
        type. Before the fix, `event_id = 0` on a bucket[4](event_id)
        table pruned the matching file and silently returned 0 rows."""
        from iceberg_rs_spark.sources.icelake import _bind_predicate, _split_by_predicate

        base = events_df.limit(100)
        t = catalog.create_table(
            "db.buckprune", base.schema, partition_by=[("event_id", "bucket[4]")]
        )
        t.append(base)
        ids = [r.event_id for r in base.limit(5).collect()]
        for i in ids:
            assert t.scan(where=f"event_id = {i}").count() == 1
        md = t.metadata
        may, no = _split_by_predicate(
            t._current_entries(md), _bind_predicate(t.spark, md, f"event_id = {ids[0]}")
        )
        assert len(no) > 0  # it actually pruned, not conservative-kept

    @pytest.mark.parametrize(
        "spec",
        [
            [("event_id", "bucket[4]")],
            [("user_id", "bucket[8]")],
            [("event_type", "identity")],
            [("event_type", "truncate[2]")],
            [("event_id", "truncate[100]")],
            [("ts", "day")],
            [("ts", "month")],
            [("event_type", "identity"), ("event_id", "bucket[4]")],
        ],
    )
    @pytest.mark.parametrize(
        "pred",
        [
            "event_id = 7",
            "user_id = 3",
            "event_type = 'click'",
            "event_id >= 50 AND event_id < 60",
            "value > 50",
            "ts >= TIMESTAMP '2024-01-15 00:00:00'",
            "event_type IN ('click', 'view')",
            "event_id IN (3, 7, 250)",
        ],
    )
    def test_scan_predicate_differential(self, catalog, events_df, spec, pred):
        """Differential pruning sweep: for every partition-spec ×
        predicate combination, a pruned scan must return exactly the
        rows a full scan + filter returns. This is the harness that
        catches type-sensitivity bugs in the pruning path (the r5
        bucket-literal bug class) regardless of which transform or
        literal type is involved."""
        name = f"db.diff_{abs(hash((str(spec), pred))) % 10**8}"
        base = events_df.limit(120)
        t = catalog.create_table(name, base.schema, partition_by=spec)
        t.append(base)
        got = {
            tuple(r)
            for r in t.scan(where=pred)
            .select("event_id", "user_id", "event_type")
            .collect()
        }
        exp = {
            tuple(r)
            for r in t.scan()
            .filter(pred)
            .select("event_id", "user_id", "event_type")
            .collect()
        }
        assert got == exp

    @pytest.mark.parametrize(
        "spec",
        [
            [("event_id", "bucket[4]")],  # scoped delete files
            [("ts", "day")],  # unscoped delete files (key not in spec)
            [],  # unpartitioned
        ],
    )
    @pytest.mark.parametrize(
        "pred",
        [
            "event_id = 4",
            "event_type = 'click'",
            "event_id >= 30 AND event_id < 80",
        ],
    )
    def test_scan_predicate_differential_with_mor_deletes(
        self, catalog, events_df, spec, pred
    ):
        """The same differential contract on a table carrying BOTH
        delete-file kinds: a merge-on-read upsert (equality deletes —
        partition-scoped when the key aligns with the spec, unscoped
        otherwise) plus a merge-on-read predicate delete (position
        deletes). Covers the r5 scoped-delete pruning path end-to-end:
        pruning delete files must never change a filtered result."""
        name = f"db.diffmor_{abs(hash((str(spec), pred))) % 10**8}"
        base = events_df.limit(120).cache()
        t = catalog.create_table(name, base.schema, partition_by=spec)
        t.append(base)
        ids = [r.event_id for r in base.limit(20).collect()]
        upsert = base.where(F.col("event_id").isin(ids)).withColumn(
            "value", F.col("value") + F.lit(1000.0)
        )
        t.merge(upsert, on=["event_id"], mode="merge-on-read")
        t.delete("user_id = 5", mode="merge-on-read")
        got = {
            tuple(r)
            for r in t.scan(where=pred)
            .select("event_id", "user_id", "value")
            .collect()
        }
        exp = {
            tuple(r)
            for r in t.scan()
            .filter(pred)
            .select("event_id", "user_id", "value")
            .collect()
        }
        assert got == exp
        base.unpersist()

    def test_scan_where_exactness_with_unparseable_predicate(self, catalog, events_df):
        """A ``where`` the evaluator cannot reason about (LIKE) prunes
        nothing and stays exact; OR is no longer one of those — it
        prunes on an identity-partitioned table and stays exact."""
        from iceberg_rs_spark.sources.icelake import _bind_predicate, _split_by_predicate

        t = catalog.create_table("db.exact", events_df.schema, partition_by=[("ts", "day")])
        t.append(events_df)
        or_where = "event_type = 'click' OR event_type = 'view'"
        exp = events_df.where("event_type IN ('click','view')").count()
        assert t.scan(where=or_where).count() == exp
        like = "event_type LIKE 'cl%'"
        assert t.scan(where=like).count() == events_df.where(like).count()
        md = t.metadata
        _, no = _split_by_predicate(
            t._current_entries(md),
            _bind_predicate(t.spark, md, like),
        )
        assert no == []

        ti = catalog.create_table(
            "db.exact_or", events_df.schema, partition_by=[("event_type", "identity")]
        )
        ti.append(events_df)
        md = ti.metadata
        may, no = _split_by_predicate(
            ti._current_entries(md), _bind_predicate(ti.spark, md, or_where)
        )
        assert {e.partition["event_type"] for e in may} == {"click", "view"}
        assert len(no) > 0
        assert ti.scan(where=or_where).count() == exp

    def test_in_list_pruning_actually_prunes(self, catalog, events_df):
        """IN-list predicates (the dim-driven scan shape) participate
        in pruning: identity partitions keep only the listed values'
        files, bucket partitions keep only the listed values' buckets,
        and NOT IN stays exact."""
        from iceberg_rs_spark.sources.icelake import _bind_predicate, _split_by_predicate

        base = events_df.limit(120)
        t = catalog.create_table(
            "db.inprune", base.schema, partition_by=[("event_type", "identity")]
        )
        t.append(base)
        md = t.metadata
        may, no = _split_by_predicate(
            t._current_entries(md),
            _bind_predicate(t.spark, md, "event_type IN ('click', 'view')"),
        )
        assert len(no) > 0  # other event types' files pruned
        got = t.scan(where="event_type IN ('click', 'view')").count()
        assert got == base.where("event_type IN ('click','view')").count()

        tb = catalog.create_table(
            "db.inprune_b", base.schema, partition_by=[("event_id", "bucket[8]")]
        )
        tb.append(base)
        mdb = tb.metadata
        may_b, no_b = _split_by_predicate(
            tb._current_entries(mdb), _bind_predicate(tb.spark, mdb, "event_id IN (3, 7)")
        )
        assert len(no_b) > 0  # at most 2 of 8 buckets survive
        assert tb.scan(where="event_id IN (3, 7)").count() == base.where(
            "event_id IN (3, 7)"
        ).count()
        # NOT IN (and NOT IN holding NULL, which is never TRUE): scan
        # and delete stay exact in both delete modes
        for where in ("event_id NOT IN (3, 7)", "event_id NOT IN (3, NULL)"):
            exp = base.where(where).count()
            assert tb.scan(where=where).count() == exp
            for mode in ("copy-on-write", "merge-on-read"):
                td = catalog.create_table(
                    f"db.notin_{mode[0]}_{len(where)}",
                    base.schema,
                    partition_by=[("event_id", "bucket[8]")],
                )
                td.append(base)
                assert td.delete(where, mode=mode) == exp
                assert td.scan().count() == base.count() - exp

    def test_truncate_in_list_pruning_actually_prunes(self, catalog, events_df):
        """truncate[W] is monotonic, so an IN list prunes via per-value
        transform images (VERDICT r5 #5): only partitions equal to some
        literal's truncation survive — string truncate on a text column
        and width-truncate on an integer column both actually PRUNE
        (non-empty `no` set), and the scan stays exact."""
        from iceberg_rs_spark.sources.icelake import _bind_predicate, _split_by_predicate

        base = events_df.limit(120)
        tt = catalog.create_table(
            "db.truncprune_s",
            base.schema,
            partition_by=[("event_type", "truncate[2]")],
        )
        tt.append(base)
        md = tt.metadata
        may, no = _split_by_predicate(
            tt._current_entries(md),
            _bind_predicate(tt.spark, md, "event_type IN ('click', 'view')"),
        )
        assert len(no) > 0  # prefixes other than 'cl'/'vi' pruned
        assert tt.scan(where="event_type IN ('click', 'view')").count() == (
            base.where("event_type IN ('click','view')").count()
        )

        ti = catalog.create_table(
            "db.truncprune_i",
            base.schema,
            partition_by=[("event_id", "truncate[50]")],
        )
        ti.append(base)
        mdi = ti.metadata
        may_i, no_i = _split_by_predicate(
            ti._current_entries(mdi),
            _bind_predicate(ti.spark, mdi, "event_id IN (3, 7, 103)"),
        )
        assert len(no_i) > 0  # only width-50 blocks 0 and 100 survive
        assert ti.scan(where="event_id IN (3, 7, 103)").count() == (
            base.where("event_id IN (3, 7, 103)").count()
        )

    def test_empty_table_scan(self, catalog, events_df):
        t = catalog.create_table("db.empty", events_df.schema)
        assert t.scan().count() == 0
        assert t.scan(where="user_id = 1").count() == 0


class TestCorrectnessFixes:
    """Regression tests for the NULL-delete / pruning / concurrency /
    ref-age semantics (SQL DELETE + Iceberg retention rules)."""

    def test_delete_keeps_null_predicate_rows(self, catalog, spark):
        """DELETE WHERE p removes rows where p IS TRUE; rows where p
        evaluates to NULL must survive."""
        df = spark.createDataFrame(
            [(1, 1.0), (2, None), (3, 10.0), (4, None)], "id long, x double"
        )
        t = catalog.create_table("db.nulldel", df.schema)
        t.append(df)
        deleted = t.delete("x > 5")
        assert deleted == 1
        assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 4]

    def test_identity_timestamp_partition_pruning(self, catalog, spark):
        """Identity partitioning on a timestamp column: dir values are
        strings, the literal is a datetime — '=' must still match and
        range predicates must not raise."""
        rows = [
            (i, dt.datetime(2024, 1, 1 + i, 12, 30, 0), float(i)) for i in range(5)
        ]
        df = spark.createDataFrame(rows, "id long, ts timestamp_ntz, v double")
        t = catalog.create_table("db.tspart", df.schema, partition_by=[("ts", "identity")])
        t.append(df)
        eq = t.scan(where="ts = TIMESTAMP '2024-01-03 12:30:00'")
        assert [r["id"] for r in eq.collect()] == [2]
        rng = t.scan(where="ts >= TIMESTAMP '2024-01-03 00:00:00'")
        assert sorted(r["id"] for r in rng.collect()) == [2, 3, 4]
        # and the pruning actually pruned (not just conservative-kept)
        from iceberg_rs_spark.sources.icelake import _bind_predicate, _split_by_predicate

        md = t.metadata
        may, no = _split_by_predicate(
            t._current_entries(md),
            _bind_predicate(t.spark, md, "ts = TIMESTAMP '2024-01-03 12:30:00'"),
        )
        assert len(no) > 0 and len(may) < len(may) + len(no)

    def test_iso_date_literal_on_string_column_not_pruned(self, catalog, spark):
        """A string literal that parses as an ISO date must not prune
        away matching files of a *string* column."""
        df = spark.createDataFrame(
            [(1, "2024-01-01"), (2, "2024-01-02")], "id long, day string"
        )
        t = catalog.create_table("db.strday", df.schema, partition_by=[("day", "identity")])
        t.append(df)
        assert [r["id"] for r in t.scan(where="day = '2024-01-02'").collect()] == [2]

    def test_incremental_scan_rejects_overwrite_and_delete(self, catalog, events_df):
        t = catalog.create_table("db.incr", events_df.schema)
        t.append(events_df.limit(10))
        snap1 = t.metadata.current_snapshot_id
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert t.incremental_scan(start_snapshot_id=snap1).count() == 10
        t.delete("event_id % 2 = 0")
        with pytest.raises(ValueError, match="delete"):
            t.incremental_scan(start_snapshot_id=snap1)

    def test_incremental_scan_multi_append_and_compaction(
        self, catalog, spark, events_df
    ):
        """Both O(delta) range readers (VERDICT r4 #5): the all-append
        fast path resolves a multi-commit range from the END manifest's
        sequence numbers alone, and a compaction inside the range falls
        back to per-append manifests (the rewritten files carry fresh
        sequence numbers, the appends' own manifests still pin the
        originals) — identical rows either way."""
        base = events_df.limit(30).cache()
        a = base.limit(10)
        b = base.limit(20).subtract(a)
        c = base.subtract(base.limit(20))
        t = catalog.create_table("db.incr2", base.schema)
        t.append(a)
        snap1 = t.metadata.current_snapshot_id
        t.append(b)
        t.append(c)
        expected = {r.event_id for r in b.unionByName(c).collect()}
        got = {
            r.event_id
            for r in t.incremental_scan(start_snapshot_id=snap1).collect()
        }
        assert got == expected
        # compact between two more appends: range now contains a
        # `replace`; rows must be unchanged (compaction moves bytes,
        # not data) and still exclude the pre-range append
        t.compact()
        assert {
            r.event_id
            for r in t.incremental_scan(start_snapshot_id=snap1).collect()
        } == expected
        base.unpersist()

    def test_incremental_scan_fast_path_reads_one_manifest(
        self, catalog, spark, events_df, monkeypatch
    ):
        """The O(delta) claim, pinned: an all-append range resolves
        from the END manifest alone — exactly ONE manifest read no
        matter how many commits the range spans (the old walk read two
        full manifests per commit)."""
        base = events_df.limit(30).cache()
        t = catalog.create_table("db.incr3", base.schema)
        t.append(base.limit(10))
        snap1 = t.metadata.current_snapshot_id
        t.append(base.limit(20).subtract(base.limit(10)))
        t.append(base.subtract(base.limit(20)))
        cls = type(t)
        orig = cls._read_manifest
        calls: list[int] = []

        def counting(self, snap):
            calls.append(snap.snapshot_id)
            return orig(self, snap)

        monkeypatch.setattr(cls, "_read_manifest", counting)
        n = t.incremental_scan(start_snapshot_id=snap1).count()
        assert n == 20
        assert len(calls) == 1
        assert calls[0] == t.metadata.current_snapshot_id
        base.unpersist()

    def test_incremental_scan_rejects_unstamped_entries(
        self, catalog, events_df, monkeypatch
    ):
        """Entries without per-file sequence numbers (foreign manifests
        deserialize them to 0) make commit attribution impossible; the
        fast path must FAIL rather than silently drop those files from
        the delta (ADVICE r5)."""
        import dataclasses

        t = catalog.create_table("db.incr4", events_df.schema)
        t.append(events_df.limit(10))
        snap1 = t.metadata.current_snapshot_id
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        cls = type(t)
        orig = cls._read_manifest

        def unstamped(self, snap):
            return [
                dataclasses.replace(e, sequence_number=None)
                for e in orig(self, snap)
            ]

        monkeypatch.setattr(cls, "_read_manifest", unstamped)
        with pytest.raises(ValueError, match="sequence numbers"):
            t.incremental_scan(start_snapshot_id=snap1)
        # A full-table incremental read (start=None, start_seq=0) has no
        # attribution to do — still served.
        assert t.incremental_scan().count() == 20

    def test_incremental_scan_slow_path_rejects_unstamped_entries(
        self, catalog, events_df, monkeypatch
    ):
        """The per-snapshot (compaction-inside-the-range) path filters
        entries by e.sequence_number == snap.sequence_number; an
        unstamped entry (0/None) never matches and would silently
        vanish from the delta, so it must raise like the fast path."""
        import dataclasses

        t = catalog.create_table("db.incr5", events_df.schema)
        t.append(events_df.limit(10))
        snap1 = t.metadata.current_snapshot_id
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        t.compact()  # replace inside the range forces the slow path
        t.append(events_df.limit(25).subtract(events_df.limit(20)))
        cls = type(t)
        orig = cls._read_manifest

        def unstamped(self, snap):
            return [
                dataclasses.replace(e, sequence_number=None)
                for e in orig(self, snap)
            ]

        # sanity: the stamped slow path serves the exact delta
        assert t.incremental_scan(start_snapshot_id=snap1).count() == 15
        monkeypatch.setattr(cls, "_read_manifest", unstamped)
        with pytest.raises(ValueError, match="sequence numbers"):
            t.incremental_scan(start_snapshot_id=snap1)

    def test_delete_preserves_concurrent_append(self, catalog, spark, events_df, monkeypatch):
        """A concurrent append that wins the version race must survive a
        retried DELETE commit (snapshot isolation, no silent data loss)."""
        import iceberg_rs_spark.sources.icelake as lake

        t = catalog.create_table("db.race", events_df.schema)
        base = events_df.limit(50)
        t.append(base)
        t2 = catalog.load_table("db.race")
        extra = events_df.limit(60).subtract(base)  # 10 fresh rows
        orig = lake._write_metadata_version
        state = {"raced": False}

        def racy(location, version, md):
            if not state["raced"]:
                state["raced"] = True
                t2.append(extra)  # concurrent writer takes this slot
                raise FileExistsError(version)
            return orig(location, version, md)

        monkeypatch.setattr(lake, "_write_metadata_version", racy)
        deleted = t.delete("event_type = 'click'")
        monkeypatch.setattr(lake, "_write_metadata_version", orig)
        assert state["raced"] and deleted > 0
        out = t.to_df()
        # the 10 concurrently-appended rows are all still present
        assert out.count() == 50 - deleted + 10
        assert extra.subtract(out).count() == 0

    def test_expire_failure_deletes_nothing(self, catalog, events_df, monkeypatch):
        """Physical file deletion must happen only after the expire
        commit succeeds — a failed commit leaves every file intact."""
        import iceberg_rs_spark.sources.icelake as lake

        t = catalog.create_table(
            "db.expfail", events_df.schema, properties={"commit.retry.num-retries": "0"}
        )
        for i in range(3):
            t.overwrite(events_df.limit(10 * (i + 1)))
        snaps = list(t.metadata.snapshots)

        def always_conflict(location, version, md):
            raise FileExistsError(version)

        monkeypatch.setattr(lake, "_write_metadata_version", always_conflict)
        with pytest.raises(lake.CommitConflict):
            t.expire_snapshots(retain_last=1)
        monkeypatch.undo()
        # every snapshot still fully readable
        for i, s in enumerate(snaps):
            assert t.scan(snapshot_id=s.snapshot_id).count() == 10 * (i + 1)

    def test_add_files_name_mapping(self, catalog, spark, events_df, tmp_path):
        """Raw field-id-less parquet with *different* column names is
        registered in place via a name mapping (reference
        schema.rs:242-260) and reads through the current schema —
        including after a rename, since resolution goes name → field
        id → current name."""
        from iceberg_rs_spark.model import NameMapping

        base = events_df.select("event_id", "event_type", "value").limit(20)
        t = catalog.create_table("db.addf", base.schema)
        t.append(base.limit(5))
        # raw files use legacy column names
        raw = (
            events_df.select(
                F.col("event_id").alias("id"),
                F.col("event_type").alias("etype"),
                F.col("value").alias("val"),
            )
            .limit(40)
            .subtract(
                events_df.select(
                    F.col("event_id").alias("id"),
                    F.col("event_type").alias("etype"),
                    F.col("value").alias("val"),
                ).limit(20)
            )
        )
        raw_dir = str(tmp_path / "raw")
        raw.write.parquet(raw_dir)
        sch = t.schema()
        mapping = [
            NameMapping(field_id=sch.field_by_name("event_id").id, names=("event_id", "id")),
            NameMapping(field_id=sch.field_by_name("event_type").id, names=("event_type", "etype")),
            NameMapping(field_id=sch.field_by_name("value").id, names=("value", "val")),
        ]
        n = t.add_files(raw_dir, name_mapping=mapping)
        assert n >= 1
        assert t.metadata.snapshots[-1].operation == "append"
        out = t.to_df()
        assert out.count() == 25
        assert set(out.columns) == {"event_id", "event_type", "value"}
        # raw rows are really there, typed per the table schema
        assert out.where(F.col("value").isNotNull()).count() == 25
        # rename survives: mapping resolves via field id
        t.rename_column("value", "amount")
        assert t.to_df().where(F.col("amount").isNotNull()).count() == 25
        # without any mapping, add_files refuses
        t2 = catalog.create_table("db.addf2", base.schema)
        with pytest.raises(ValueError, match="name mapping"):
            t2.add_files(raw_dir)

    def test_typed_columns_negative(self, catalog, spark):
        """Write-side enforcement for types Spark can't carry natively
        (reference schema.rs:44-46): wrong-length fixed[L] values and
        non-canonical uuid strings are rejected at append."""
        from iceberg_rs_spark.model import IceField, IcePrimitive, IceSchema, IceStruct

        schema = IceSchema(
            schema_id=0,
            struct=IceStruct(
                (
                    IceField(1, "id", True, IcePrimitive("long")),
                    IceField(2, "fx", False, IcePrimitive("fixed[4]")),
                    IceField(3, "u", False, IcePrimitive("uuid")),
                )
            ),
        )
        t = catalog.create_table("db.typedneg", schema)
        ok = spark.createDataFrame(
            [(1, bytearray(b"abcd"), "a1d0c6e8-3f02-7327-d846-1063f4ac58a6")],
            "id long, fx binary, u string",
        )
        t.append(ok)
        assert t.to_df().count() == 1
        bad_fixed = spark.createDataFrame(
            [(2, bytearray(b"abcde"), "a1d0c6e8-3f02-7327-d846-1063f4ac58a6")],
            "id long, fx binary, u string",
        )
        with pytest.raises(Exception, match="fixed"):
            t.append(bad_fixed)
        bad_uuid = spark.createDataFrame(
            [(3, bytearray(b"abcd"), "not-a-uuid")],
            "id long, fx binary, u string",
        )
        with pytest.raises(Exception, match="uuid"):
            t.append(bad_uuid)
        # nulls in optional typed columns are fine
        nulls = spark.createDataFrame([(4, None, None)], "id long, fx binary, u string")
        t.append(nulls)
        assert t.to_df().count() == 2

    def test_ref_age_expiry(self, catalog, events_df):
        """max_ref_age_ms (reference snapshot.rs:98-102): an aged tag is
        dropped by expire_snapshots, its snapshot expires with it, and
        main survives."""
        import time as _time

        t = catalog.create_table("db.refage", events_df.schema)
        t.append(events_df.limit(10))
        t.create_tag("ephemeral", max_ref_age_ms=1)
        t.create_tag("forever")  # no retention → immortal
        t.append(events_df.limit(30).subtract(events_df.limit(10)))
        _time.sleep(0.05)  # let the 1ms ref age lapse
        t.expire_snapshots(retain_last=1)
        refs = {r["name"] for r in t.refs().collect()}
        assert "ephemeral" not in refs and "forever" in refs
        with pytest.raises(KeyError):
            t.scan(tag="ephemeral")
        assert t.scan(tag="forever").count() == 10  # kept snapshot readable
        assert t.to_df().count() == 30  # main intact


class TestInspection:
    def test_metadata_tables(self, catalog, events_df):
        t = catalog.create_table("db.insp", events_df.schema, partition_by=[("ts", "day")])
        t.append(events_df.limit(100))
        t.append(events_df.limit(200).subtract(events_df.limit(100)))
        assert t.snapshots().count() == 2
        hist = t.history().orderBy("made_current_at").collect()
        assert len(hist) == 2 and all(r["is_current_ancestor"] for r in hist)
        assert t.files().count() >= 1
        assert t.partitions().count() >= 1
        assert t.metadata_log_entries().count() >= 1
        desc = t.describe()
        assert "ts_day: day" in desc and "event_id" in desc

    def test_describe_and_reload(self, catalog, spark, events_df):
        catalog.create_table("db.reload", events_df.schema).append(events_df.limit(5))
        t2 = catalog.load_table("db.reload")
        assert t2.to_df().count() == 5
        assert "db.reload" in catalog.list_tables("db")


class TestAdviceR2Fixes:
    """Regression tests for the round-2 ADVICE.md findings: commit
    conflict validation for compact/delete, '='-safe basePath
    anchoring, and add_files stats/duplicate hardening."""

    def test_compact_preserves_concurrent_append(self, catalog, events_df, monkeypatch):
        """compact() is 'replace: data unchanged' — a concurrent append
        that wins the version race must survive the retried commit."""
        import iceberg_rs_spark.sources.icelake as lake

        t = catalog.create_table("db.crace", events_df.schema)
        base = events_df.limit(50)
        t.append(base)
        t2 = catalog.load_table("db.crace")
        extra = events_df.limit(60).subtract(base)  # 10 fresh rows
        orig = lake._write_metadata_version
        state = {"raced": False}

        def racy(location, version, md):
            if not state["raced"]:
                state["raced"] = True
                t2.append(extra)
                raise FileExistsError(version)
            return orig(location, version, md)

        monkeypatch.setattr(lake, "_write_metadata_version", racy)
        t.compact(target_file_size_bytes=1)
        monkeypatch.undo()
        assert state["raced"]
        out = t.to_df()
        assert out.count() == 60
        assert extra.subtract(out).count() == 0

    def test_delete_conflicts_with_concurrent_rewrite(self, catalog, events_df, monkeypatch):
        """If a concurrent compact rewrote the files a DELETE read,
        committing would resurrect deleted rows — must CommitConflict."""
        import iceberg_rs_spark.sources.icelake as lake

        t = catalog.create_table("db.drace", events_df.schema)
        t.append(events_df.limit(50))
        t2 = catalog.load_table("db.drace")
        orig = lake._write_metadata_version
        state = {"raced": False}

        def racy(location, version, md):
            if not state["raced"]:
                state["raced"] = True
                monkeypatch.setattr(lake, "_write_metadata_version", orig)
                t2.compact(target_file_size_bytes=1)  # rewrites every input path
                monkeypatch.setattr(lake, "_write_metadata_version", racy)
                raise FileExistsError(version)
            return orig(location, version, md)

        monkeypatch.setattr(lake, "_write_metadata_version", racy)
        with pytest.raises(lake.CommitConflict, match="concurrent"):
            t.delete("event_type = 'click'")
        monkeypatch.undo()
        # nothing lost, nothing deleted: the conflicting commit never landed
        assert t.to_df().count() == 50

    def test_compact_conflicts_with_concurrent_delete(self, catalog, events_df, monkeypatch):
        """If a concurrent delete rewrote compact's input files,
        committing the compaction would resurrect the deleted rows."""
        import iceberg_rs_spark.sources.icelake as lake

        t = catalog.create_table("db.crace2", events_df.schema)
        t.append(events_df.limit(50))
        t2 = catalog.load_table("db.crace2")
        orig = lake._write_metadata_version
        state = {"raced": False, "deleted": 0}

        def racy(location, version, md):
            if not state["raced"]:
                state["raced"] = True
                monkeypatch.setattr(lake, "_write_metadata_version", orig)
                state["deleted"] = t2.delete("event_type = 'click'")
                monkeypatch.setattr(lake, "_write_metadata_version", racy)
                raise FileExistsError(version)
            return orig(location, version, md)

        monkeypatch.setattr(lake, "_write_metadata_version", racy)
        with pytest.raises(lake.CommitConflict, match="concurrent"):
            t.compact(target_file_size_bytes=1)
        monkeypatch.undo()
        assert state["deleted"] > 0
        assert t.to_df().count() == 50 - state["deleted"]

    def test_merge_conflicts_with_concurrent_append(self, catalog, spark, events_df, monkeypatch):
        """MERGE rewrites the whole table from its snapshot; committing
        over a concurrent append would silently drop the appended rows
        — must CommitConflict instead (Iceberg validation semantics)."""
        import iceberg_rs_spark.sources.icelake as lake

        t = catalog.create_table("db.mrace", events_df.schema)
        base = events_df.limit(30)
        t.append(base)
        t2 = catalog.load_table("db.mrace")
        extra = events_df.limit(40).subtract(base)
        orig = lake._write_metadata_version
        state = {"raced": False}

        def racy(location, version, md):
            if not state["raced"]:
                state["raced"] = True
                monkeypatch.setattr(lake, "_write_metadata_version", orig)
                t2.append(extra)
                monkeypatch.setattr(lake, "_write_metadata_version", racy)
                raise FileExistsError(version)
            return orig(location, version, md)

        monkeypatch.setattr(lake, "_write_metadata_version", racy)
        src = events_df.limit(5)
        with pytest.raises(lake.CommitConflict, match="concurrent"):
            t.merge(src, on=["event_id"])
        monkeypatch.undo()
        # the concurrent append survived; merge never landed
        assert t.to_df().count() == 40
        # clean re-run on fresh metadata succeeds
        t3 = catalog.load_table("db.mrace")
        t3.merge(src, on=["event_id"])
        assert t3.to_df().count() == 40

    def test_base_path_safe_with_equals_in_warehouse_dir(self, spark, tmp_path, events_df):
        """A warehouse path whose directory names contain '=' (legal on
        POSIX) must not confuse basePath anchoring — partition discovery
        restores identity-partition columns correctly."""
        wh = tmp_path / "env=prod" / "wh"
        cat = Catalog(spark, str(wh))
        t = cat.create_table(
            "db.eqpath", events_df.schema, partition_by=[("event_type", "identity")]
        )
        df = events_df.limit(40)
        t.append(df)
        out = t.to_df()
        assert set(out.columns) == set(df.columns)
        assert out.count() == 40
        assert df.subtract(out).count() == 0

    def test_add_files_stats_collision_and_duplicate_path(
        self, catalog, spark, events_df, tmp_path
    ):
        """A raw file carrying BOTH an alias and the canonical column
        name keeps stats under both raw names; reads and pruning both
        take the first mapped name, so pruning is exact; re-registering
        the same path is rejected."""
        from iceberg_rs_spark.model import NameMapping
        import iceberg_rs_spark.sources.icelake as lake

        base = events_df.select("event_id", "value").limit(5)
        t = catalog.create_table("db.coll", base.schema)
        sch = t.schema()
        # raw file has columns `value` AND `val`, both mapped to field `value`
        raw = events_df.select(
            F.col("event_id").alias("event_id"),
            F.col("value").alias("value"),
            (F.col("value") * 1000).alias("val"),
        ).limit(5)
        raw_dir = str(tmp_path / "rawcoll")
        raw.write.parquet(raw_dir)
        mapping = [
            NameMapping(field_id=sch.field_by_name("event_id").id, names=("event_id",)),
            NameMapping(field_id=sch.field_by_name("value").id, names=("value", "val")),
        ]
        n = t.add_files(raw_dir, name_mapping=mapping)
        assert n >= 1
        raw_entries = [
            e for e in t._current_entries(t.metadata) if e.schema_id == lake.RAW_SCHEMA_ID
        ]
        assert raw_entries
        for e in raw_entries:
            assert e.stats["value"] != e.stats["val"]  # each raw column's own stats
            assert e.stats.get("event_id") is not None
        hi = t.scan(where="value >= 0").count() + t.scan(where="value < 0").count()
        assert hi == t.to_df().count()
        values = sorted(r.value for r in t.to_df().collect() if r.value is not None)
        for x in (values[0], values[len(values) // 2], values[-1]):
            for where in (f"value <= {x}", f"value > {x}"):
                assert t.scan(where=where).count() == t.to_df().filter(where).count(), where
        # duplicate registration rejected
        with pytest.raises(ValueError, match="already registered"):
            t.add_files(raw_dir)


class TestCommitCrashAtomicity:
    """The commit protocol must be crash-atomic: a writer dying at ANY
    point inside _write_metadata_version may leave an invisible .tmp
    orphan in metadata/, but never a truncated vN.metadata.json —
    _latest_version picks the newest version file by existence alone,
    so a half-written one would brick every subsequent read AND commit
    of the table, permanently (the pre-r10 O_CREAT|O_EXCL write had
    exactly this window).

    Parameterized over BOTH commit backends (VERDICT r11 #2): the
    POSIX-link local backend and the object-store conditional-PUT CAS
    fake — crash atomicity is a property of the protocol, not of the
    link primitive."""

    @pytest.fixture(autouse=True, params=["local", "objectstore"])
    def commit_backend(self, request, monkeypatch):
        if request.param == "objectstore":
            from iceberg_rs_spark.sources import icelake as lake
            from tests.object_store_fake import ObjectStoreFakeBackend

            monkeypatch.setattr(
                lake, "DEFAULT_COMMIT_BACKEND", ObjectStoreFakeBackend()
            )
        return request.param

    def _meta_files(self, t):
        """Version files + tmp litter only — a failed commit may
        legitimately orphan a snap-*.json manifest (written before the
        claim; invisible without a version file referencing it)."""
        import os

        return sorted(
            n
            for n in os.listdir(os.path.join(t.location, "metadata"))
            if ".tmp." in n or n.endswith(".metadata.json")
        )

    def test_crash_at_claim_leaves_table_readable_and_writable(
        self, catalog, spark, events_df, monkeypatch, commit_backend
    ):
        import os as osmod

        t = catalog.create_table("db.crash_claim", events_df.schema)
        t.append(events_df.limit(10))
        before_files = self._meta_files(t)
        before_rows = t.to_df().count()
        if commit_backend == "local":
            # die INSIDE the claim primitive itself
            real_link = osmod.link
            blow = {"armed": True}

            def dying_link(src, dst, **kw):
                if blow["armed"]:
                    blow["armed"] = False
                    raise OSError("simulated writer death at the claim step")
                return real_link(src, dst, **kw)

            monkeypatch.setattr(osmod, "link", dying_link)
        else:
            # die mid-PUT: after the staging upload, before the atomic
            # visibility swap — the object-store equivalent of dying
            # inside the link
            from iceberg_rs_spark.sources import icelake as lake

            lake.DEFAULT_COMMIT_BACKEND.die_before_swap_once = True
        with pytest.raises(OSError, match="simulated"):
            t.append(events_df.limit(20).subtract(events_df.limit(10)))
        if commit_backend == "local":
            # (undo also clears the autouse backend patch — local only;
            # the objectstore die-once flag is self-clearing)
            monkeypatch.undo()
            # no truncated version file, no tmp litter, table intact
            assert self._meta_files(t) == before_files
        else:
            # an object store MAY leave a staged-upload object behind
            # (there is no finally to run on a dead writer) but never a
            # visible version object; the litter is sweepable
            after = self._meta_files(t)
            assert [n for n in after if n.endswith(".metadata.json")] == [
                n for n in before_files if n.endswith(".metadata.json")
            ]
            assert all(".tmp." in n for n in set(after) - set(before_files))
        assert t.to_df().count() == before_rows
        # and the next commit proceeds normally
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert t.to_df().count() == 20
        if commit_backend == "objectstore":
            import os

            t.remove_orphan_files()
            assert not [
                n for n in self._meta_files(t) if ".tmp." in n
            ], "sweep must collect the crashed PUT's staging litter"

    def test_crash_during_json_write_leaves_no_version_file(
        self, catalog, spark, events_df, monkeypatch
    ):
        import os as osmod

        t = catalog.create_table("db.crash_write", events_df.schema)
        t.append(events_df.limit(10))
        before_files = self._meta_files(t)
        real_fsync = osmod.fsync

        def dying_fsync(fd):
            raise OSError("simulated writer death mid-write")

        monkeypatch.setattr(osmod, "fsync", dying_fsync)
        with pytest.raises(OSError, match="simulated"):
            t.append(events_df.limit(20).subtract(events_df.limit(10)))
        monkeypatch.setattr(osmod, "fsync", real_fsync)
        assert self._meta_files(t) == before_files
        assert t.to_df().count() == 10
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert t.to_df().count() == 20

    def test_create_table_race_loses_cleanly(
        self, catalog, events_df, monkeypatch
    ):
        """Two creators racing the same identifier: the upfront
        table_exists check is advisory (TOCTOU window); v1's exclusive
        create is the arbiter, and the loser must get the same
        'already exists' error as the upfront check — not a raw
        FileExistsError."""
        catalog.create_table("db.create_race", events_df.schema)
        monkeypatch.setattr(catalog, "table_exists", lambda _i: False)
        with pytest.raises(ValueError, match="already exists"):
            catalog.create_table("db.create_race", events_df.schema)

    def test_stale_tmp_orphan_is_invisible(self, catalog, events_df):
        """A temp file a DEAD writer really did leak (kill -9 between
        write and claim — no finally runs) must be invisible to version
        resolution, reads, and future commits."""
        import os

        t = catalog.create_table("db.crash_orphan", events_df.schema)
        t.append(events_df.limit(10))
        v = len(t.metadata.snapshots)
        orphan = os.path.join(
            t.location, "metadata", "v99.metadata.json.tmp.12345.6"
        )
        with open(orphan, "w") as f:
            f.write('{"truncated": ')
        assert t.to_df().count() == 10
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert t.to_df().count() == 20
        assert len(t.metadata.snapshots) == v + 1
        # the orphan sweep clears the litter but never a version file
        removed = t.remove_orphan_files()
        assert removed == [orphan]
        assert not os.path.exists(orphan)
        assert t.to_df().count() == 20
        # and the in-flight age guard protects a fresh tmp (a LIVE
        # writer's claim-in-progress) just like a fresh data file
        with open(orphan, "w") as f:
            f.write("x")
        from iceberg_rs_spark.sources.icelake import _now_ms

        assert t.remove_orphan_files(older_than_ms=_now_ms() - 60_000) == []
        assert os.path.exists(orphan)


class TestCommitBackendSeam:
    """CommitBackend contract (VERDICT r10 #6): the version-claim step
    is the ONLY atomicity primitive the commit protocol needs, so an
    object-store catalog plugs in by satisfying claim_version's
    contract — FileExistsError iff a racer owns the version, never a
    torn publish, FileNotFoundError iff the staged tmp vanished. A
    fake backend drives the retry loops through every contract arm."""

    def test_file_exists_drives_the_optimistic_retry_loop(
        self, catalog, events_df, monkeypatch
    ):
        """A backend FileExistsError means 'a racer won the version' —
        _commit must re-read metadata and retry at the next version,
        exactly as with the local backend."""
        from iceberg_rs_spark.sources import icelake as lake

        t = catalog.create_table("db.seam_conflict", events_df.schema)
        t.append(events_df.limit(10))
        calls = {"n": 0}
        real = lake.LocalCommitBackend()

        class OnceConflicting(lake.CommitBackend):
            def claim_version(self, tmp, path):
                calls["n"] += 1
                if calls["n"] == 1:
                    raise FileExistsError(path)
                real.claim_version(tmp, path)

        monkeypatch.setattr(lake, "DEFAULT_COMMIT_BACKEND", OnceConflicting())
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert calls["n"] == 2
        assert t.to_df().count() == 20

    def test_not_found_rewrites_tmp_without_burning_a_conflict_retry(
        self, catalog, events_df, monkeypatch
    ):
        """FileNotFoundError means 'our staged tmp was swept' (ADVICE
        r10 #1: a concurrent remove_orphan_files with no age guard) —
        NOT a conflict. _write_metadata_version rewrites the tmp and
        retries the claim internally, so a table with
        commit.retry.num-retries=0 still commits."""
        from iceberg_rs_spark.sources import icelake as lake

        t = catalog.create_table("db.seam_swept", events_df.schema)
        t.set_properties(**{"commit.retry.num-retries": "0"})
        t.append(events_df.limit(10))
        calls = {"n": 0}
        real = lake.LocalCommitBackend()

        class OnceSwept(lake.CommitBackend):
            def claim_version(self, tmp, path):
                calls["n"] += 1
                if calls["n"] == 1:
                    import os

                    os.unlink(tmp)  # the sweep collects the staged tmp
                    raise FileNotFoundError(tmp)
                real.claim_version(tmp, path)

        monkeypatch.setattr(lake, "DEFAULT_COMMIT_BACKEND", OnceSwept())
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert calls["n"] == 2
        assert t.to_df().count() == 20

    def test_persistent_sweeping_aborts_instead_of_spinning(
        self, catalog, events_df, monkeypatch
    ):
        from iceberg_rs_spark.sources import icelake as lake

        t = catalog.create_table("db.seam_spin", events_df.schema)
        t.append(events_df.limit(10))

        class AlwaysSwept(lake.CommitBackend):
            def claim_version(self, tmp, path):
                raise FileNotFoundError(tmp)

        monkeypatch.setattr(lake, "DEFAULT_COMMIT_BACKEND", AlwaysSwept())
        with pytest.raises(OSError, match="orphan sweep"):
            t.append(events_df.limit(20).subtract(events_df.limit(10)))
        monkeypatch.undo()
        # the table is untouched and the next commit proceeds
        assert t.to_df().count() == 10
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert t.to_df().count() == 20

    def test_inflight_tmp_swept_at_the_link_itself(
        self, catalog, events_df, monkeypatch
    ):
        """The real interleaving ADVICE r10 #1 described: the sweep
        unlinks the tmp between the writer's fsync and its os.link, so
        the LOCAL backend itself raises FileNotFoundError — the commit
        must rewrite and succeed, not die spuriously."""
        import os as osmod

        t = catalog.create_table("db.seam_linkrace", events_df.schema)
        t.append(events_df.limit(10))
        real_link = osmod.link
        fired = {"n": 0}

        def sweeping_link(src, dst, **kw):
            if fired["n"] == 0:
                fired["n"] += 1
                osmod.unlink(src)  # concurrent sweep collects the tmp
            return real_link(src, dst, **kw)

        monkeypatch.setattr(osmod, "link", sweeping_link)
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        monkeypatch.undo()
        assert fired["n"] == 1
        assert t.to_df().count() == 20

    def test_hint_is_old_or_new_never_torn_and_advisory(
        self, catalog, events_df, monkeypatch
    ):
        """ADVICE r10 #3: the advisory version hint is published via
        tmp+os.replace, so a crash mid-publish leaves the OLD complete
        value — never a torn numeric prefix that would silently pin a
        stale-but-valid hint. And because the version claim precedes
        the hint publish (the commit is already durable), a failed
        publish must NOT fail the append — the hint is advisory, the
        forward walk from the stale value still resolves."""
        import os as osmod

        from iceberg_rs_spark.sources.icelake import _latest_version

        t = catalog.create_table("db.seam_hint", events_df.schema)
        t.append(events_df.limit(10))
        hint_path = osmod.path.join(t.location, "metadata", "version-hint.text")
        old_hint = open(hint_path).read()
        assert old_hint == str(_latest_version(t.location))
        real_replace = osmod.replace

        def dying_replace(src, dst):
            if dst.endswith("version-hint.text"):
                raise OSError("simulated crash at hint publish")
            return real_replace(src, dst)

        monkeypatch.setattr(osmod, "replace", dying_replace)
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        # hint publish failed silently (no torn write, no leaked tmp),
        # the commit itself succeeded
        assert open(hint_path).read() == old_hint
        assert not [
            n
            for n in osmod.listdir(osmod.path.dirname(hint_path))
            if n.startswith("version-hint.text.tmp.")
        ]
        monkeypatch.undo()
        # the stale-but-complete hint still resolves via the forward walk
        assert int(old_hint) + 1 == _latest_version(t.location)
        assert t.to_df().count() == 20
        t.append(events_df.limit(30).subtract(events_df.limit(20)))
        assert t.to_df().count() == 30
        assert open(hint_path).read() == str(_latest_version(t.location))

    def test_dropped_table_mid_commit_is_not_misdiagnosed_as_sweep(
        self, catalog, events_df, monkeypatch
    ):
        """FileNotFoundError with the metadata directory GONE means the
        table was dropped under the writer — re-raise it, never burn
        retries and blame 'a concurrent orphan sweep'."""
        import shutil

        from iceberg_rs_spark.sources import icelake as lake

        t = catalog.create_table("db.seam_dropped", events_df.schema)
        t.append(events_df.limit(10))

        class DropsTable(lake.CommitBackend):
            def claim_version(self, tmp, path):
                shutil.rmtree(lake._metadata_dir(t.location))
                raise FileNotFoundError(tmp)

        monkeypatch.setattr(lake, "DEFAULT_COMMIT_BACKEND", DropsTable())
        with pytest.raises(FileNotFoundError):
            t.append(events_df.limit(20).subtract(events_df.limit(10)))

    def test_local_claim_fsyncs_the_metadata_directory(
        self, catalog, events_df, monkeypatch
    ):
        """ADVICE r10 #2: durability of an acknowledged commit under
        power loss requires fsyncing the directory AFTER the link —
        pin that the local backend does both fsyncs (tmp file + dir)."""
        import os as osmod

        t = catalog.create_table("db.seam_fsync", events_df.schema)
        t.append(events_df.limit(10))
        real_fsync = osmod.fsync
        real_fstat = osmod.fstat
        synced_dirs = []

        def spying_fsync(fd):
            import stat

            if stat.S_ISDIR(real_fstat(fd).st_mode):
                synced_dirs.append(fd)
            return real_fsync(fd)

        monkeypatch.setattr(osmod, "fsync", spying_fsync)
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        monkeypatch.undo()
        assert synced_dirs, "claim must fsync the metadata directory"


class TestObjectStoreBackend:
    """Targeted object-store failure surfaces (VERDICT r11 #2): the
    three races an S3/REST catalog has and POSIX link does not —
    a racer winning the conditional-PUT CAS with a REAL competing
    commit, the staged upload swept mid-claim, and a successful claim
    followed by a stale LIST on the writer's next version resolution.
    The chaos-armed randomized sweep (TestRandomizedLifecycleDifferential
    param objectstore-chaos) covers the interaction space; these pin
    each race in isolation with its exact convergence path."""

    @pytest.fixture()
    def fake(self, monkeypatch):
        from iceberg_rs_spark.sources import icelake as lake
        from tests.object_store_fake import ObjectStoreFakeBackend

        fake = ObjectStoreFakeBackend()
        monkeypatch.setattr(lake, "DEFAULT_COMMIT_BACKEND", fake)
        return fake

    def test_cas_conflict_reapplies_on_top_of_real_racer_commit(
        self, catalog, events_df, fake
    ):
        """Unlike the seam test's phantom conflict, the racer here
        lands a REAL competing commit at the contested version — the
        loser's retry must re-read THAT document, re-apply its updater
        on top (keeping the racer's property), and land at the next
        version. No lost update on either side."""
        from iceberg_rs_spark.sources.icelake import _latest_version

        t = catalog.create_table("db.oss_conflict", events_df.schema)
        t.append(events_df.limit(10))
        v_before = _latest_version(t.location)
        fake.lose_next = True
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert fake.conflicts_injected == 1
        # racer's version + our retried version
        assert _latest_version(t.location) == v_before + 2
        md = t.metadata
        assert "chaos-racer" in md.properties, "racer's commit was lost"
        assert t.to_df().count() == 20

    def test_swept_staged_upload_rewrites_without_burning_a_retry(
        self, catalog, events_df, fake
    ):
        t = catalog.create_table("db.oss_swept", events_df.schema)
        t.set_properties(**{"commit.retry.num-retries": "0"})
        t.append(events_df.limit(10))
        fake.sweep_next = True
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert fake.sweeps_injected == 1
        assert t.to_df().count() == 20

    def test_crash_mid_put_leaves_no_torn_visible_object(
        self, catalog, events_df, fake
    ):
        """An object PUT is all-or-nothing: a writer dying between the
        staged upload and the visibility swap must leave the version
        key absent (never a prefix a reader could resolve), the table
        fully readable AND writable, and only sweepable litter."""
        import os

        from iceberg_rs_spark.sources.icelake import _latest_version

        t = catalog.create_table("db.oss_torn", events_df.schema)
        t.append(events_df.limit(10))
        v_before = _latest_version(t.location)
        fake.die_before_swap_once = True
        with pytest.raises(OSError, match="mid-PUT"):
            t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert _latest_version(t.location) == v_before
        assert t.to_df().count() == 10
        litter = [
            n
            for n in os.listdir(os.path.join(t.location, "metadata"))
            if ".tmp." in n
        ]
        assert litter, "the staged PUT must remain as invisible litter"
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        assert t.to_df().count() == 20
        t.remove_orphan_files()
        assert not [
            n
            for n in os.listdir(os.path.join(t.location, "metadata"))
            if ".tmp." in n
        ]

    def test_stale_list_after_successful_claim_converges(
        self, catalog, events_df, fake, monkeypatch
    ):
        """Claim succeeds but the writer's next LIST is stale (the
        eventual-consistency read-after-list gap): version resolution
        returns N-1, the commit plans against the stale base, the CAS
        at vN correctly fails (the store itself is strong), and the
        conflict retry re-resolves — by then the listing has caught up
        — landing at v(N+1) with NO duplicated or lost snapshot."""
        from iceberg_rs_spark.sources import icelake as lake

        t = catalog.create_table("db.oss_stale", events_df.schema)
        t.append(events_df.limit(10))
        v_real = lake._latest_version(t.location)
        snaps_before = len(t.metadata.snapshots)
        real_lv = lake._latest_version
        stale = {"left": 2}  # md0 read + first loop resolution

        def stale_latest_version(location):
            v = real_lv(location)
            if stale["left"] > 0 and v == v_real:
                stale["left"] -= 1
                return v - 1
            return v

        monkeypatch.setattr(lake, "_latest_version", stale_latest_version)
        t.append(events_df.limit(20).subtract(events_df.limit(10)))
        monkeypatch.undo()
        assert stale["left"] == 0, "staleness never bit"
        assert lake._latest_version(t.location) == v_real + 1
        assert len(t.metadata.snapshots) == snaps_before + 1
        assert t.to_df().count() == 20


class TestMergeOnReadDeletes:
    """Position-delete files (Iceberg v2 merge-on-read; reference
    snapshot.rs:28-29 'delete files were added to delete rows')."""

    def test_mor_matches_cow_and_leaves_data_files_untouched(self, catalog, events_df):
        base = events_df.limit(200)
        cow = catalog.create_table("db.cowdel", base.schema)
        cow.append(base)
        mor = catalog.create_table("db.mordel", base.schema)
        mor.append(base)
        pred = "event_type = 'click'"
        n_cow = cow.delete(pred)
        data_paths_before = {
            r.file_path for r in mor.files().where("content = 'data'").collect()
        }
        n_mor = mor.delete(pred, mode="merge-on-read")
        assert n_mor == n_cow > 0
        # same surviving rows
        assert mor.to_df().subtract(cow.to_df()).count() == 0
        assert cow.to_df().subtract(mor.to_df()).count() == 0
        # data files untouched; delete files added
        files = mor.files().collect()
        assert {
            r.file_path for r in files if r.content == "data"
        } == data_paths_before
        dels = [r for r in files if r.content == "position-deletes"]
        assert dels and sum(r.record_count for r in dels) == n_mor
        assert mor.metadata.snapshots[-1].operation == "delete"

    def test_mor_time_travel_and_second_delete_exact_counts(self, catalog, events_df):
        base = events_df.limit(100)
        t = catalog.create_table("db.mor2", base.schema)
        t.append(base)
        pre = t.metadata.current_snapshot_id
        n1 = t.delete("value > 0.5", mode="merge-on-read")
        # overlapping predicate: already-deleted rows must not recount
        n2 = t.delete("value > 0.2", mode="merge-on-read")
        total = t.to_df().count()
        assert total == 100 - n1 - n2
        exp = base.where("NOT coalesce(value > 0.2, false)").count()
        assert total == exp
        # time travel: pre-delete snapshot still sees every row
        assert t.scan(snapshot_id=pre).count() == 100

    def test_cow_delete_after_mor_does_not_resurrect(self, catalog, events_df):
        base = events_df.limit(100)
        t = catalog.create_table("db.morcow", base.schema)
        t.append(base)
        n1 = t.delete("event_type = 'click'", mode="merge-on-read")
        n2 = t.delete("value > 0.5")  # copy-on-write rewrite
        assert t.to_df().count() == 100 - n1 - n2
        got = t.to_df()
        assert got.where("event_type = 'click'").count() == 0
        assert got.where("value > 0.5").count() == 0

    def test_compact_materializes_deletes(self, catalog, events_df):
        base = events_df.limit(100)
        t = catalog.create_table("db.morcomp", base.schema)
        t.append(base)
        n = t.delete("event_type = 'view'", mode="merge-on-read")
        assert n > 0
        before = t.to_df().collect()
        t.compact(target_file_size_bytes=1)
        assert t.files().where("content = 'position-deletes'").count() == 0
        after = t.to_df()
        assert after.count() == len(before) == 100 - n
        assert after.subtract(t.spark.createDataFrame(before, after.schema)).count() == 0
        assert t.metadata.snapshots[-1].operation == "replace"

    def test_mor_on_partitioned_table_with_pruning(self, catalog, events_df):
        t = catalog.create_table(
            "db.morpart", events_df.schema, partition_by=[("event_type", "identity")]
        )
        t.append(events_df.limit(200))
        n = t.delete("event_type = 'click' AND value > 0.3", mode="merge-on-read")
        got = t.scan(where="event_type = 'click'")
        assert got.where("value > 0.3").count() == 0
        exp = (
            events_df.limit(200)
            .where("event_type = 'click' AND NOT coalesce(value > 0.3, false)")
            .count()
        )
        assert got.count() == exp and n > 0

    def test_mor_conflicts_with_concurrent_compact(self, catalog, events_df, monkeypatch):
        import iceberg_rs_spark.sources.icelake as lake

        t = catalog.create_table("db.morrace", events_df.schema)
        t.append(events_df.limit(50))
        t2 = catalog.load_table("db.morrace")
        orig = lake._write_metadata_version
        state = {"raced": False}

        def racy(location, version, md):
            if not state["raced"]:
                state["raced"] = True
                monkeypatch.setattr(lake, "_write_metadata_version", orig)
                t2.compact(target_file_size_bytes=1)  # rewrites target paths
                monkeypatch.setattr(lake, "_write_metadata_version", racy)
                raise FileExistsError(version)
            return orig(location, version, md)

        monkeypatch.setattr(lake, "_write_metadata_version", racy)
        with pytest.raises(lake.CommitConflict, match="concurrent"):
            t.delete("event_type = 'click'", mode="merge-on-read")
        monkeypatch.undo()
        assert t.to_df().count() == 50

    def test_compact_conflicts_with_concurrent_mor_delete(self, catalog, events_df, monkeypatch):
        import iceberg_rs_spark.sources.icelake as lake

        t = catalog.create_table("db.comprace", events_df.schema)
        t.append(events_df.limit(50))
        t2 = catalog.load_table("db.comprace")
        orig = lake._write_metadata_version
        state = {"raced": False, "n": 0}

        def racy(location, version, md):
            if not state["raced"]:
                state["raced"] = True
                monkeypatch.setattr(lake, "_write_metadata_version", orig)
                state["n"] = t2.delete("event_type = 'click'", mode="merge-on-read")
                monkeypatch.setattr(lake, "_write_metadata_version", racy)
                raise FileExistsError(version)
            return orig(location, version, md)

        monkeypatch.setattr(lake, "_write_metadata_version", racy)
        with pytest.raises(lake.CommitConflict, match="merge-on-read"):
            t.compact(target_file_size_bytes=1)
        monkeypatch.undo()
        assert state["n"] > 0
        assert t.to_df().count() == 50 - state["n"]

    def test_mor_after_schema_evolution(self, catalog, spark, events_df):
        base = events_df.select("event_id", "event_type", "value").limit(50)
        t = catalog.create_table("db.morevo", base.schema)
        t.append(base)
        t.rename_column("value", "amount")
        n = t.delete("amount > 0.5", mode="merge-on-read")
        out = t.to_df()
        assert out.where("amount > 0.5").count() == 0
        assert out.count() == 50 - n and n > 0


class TestEqualityDeleteUpserts:
    """Equality-delete files (Iceberg v2 merge-on-read upsert; the
    reference's identifier_field_ids, schema.rs:197, is what mandates
    key-addressed row replacement). One commit = new data files + an
    equality-delete file of key tuples; the delete applies only to
    strictly-older sequence numbers."""

    @staticmethod
    def _upsert_src(spark, base, ids, bump):
        return (
            base.where(F.col("event_id").isin(ids))
            .withColumn("value", F.col("value") + F.lit(bump))
        )

    def test_mor_merge_matches_cow_merge(self, catalog, spark, events_df):
        base = events_df.limit(120).cache()
        ids = [r.event_id for r in base.limit(10).collect()]
        src = self._upsert_src(spark, base, ids, 100.0)
        # add 3 brand-new keys (insert arm)
        newbies = base.limit(3).withColumn(
            "event_id", F.col("event_id") + F.lit(10_000_000)
        )
        src = src.unionByName(newbies)
        cow = catalog.create_table("db.eqcow", base.schema)
        cow.append(base)
        cow.merge(src, on=["event_id"])
        mor = catalog.create_table("db.eqmor", base.schema)
        mor.append(base)
        data_before = {
            r.file_path for r in mor.files().where("content = 'data'").collect()
        }
        mor.merge(src, on=["event_id"], mode="merge-on-read")
        # same rows either way
        assert mor.to_df().subtract(cow.to_df()).count() == 0
        assert cow.to_df().subtract(mor.to_df()).count() == 0
        files = mor.files().collect()
        # original data files untouched; new data + equality-delete added
        assert data_before <= {r.file_path for r in files if r.content == "data"}
        assert any(r.content == "equality-deletes" for r in files)
        assert mor.metadata.snapshots[-1].operation == "overwrite"

    def test_own_batch_survives_and_old_versions_die(self, catalog, spark, events_df):
        base = events_df.limit(50)
        t = catalog.create_table("db.eqseq", base.schema)
        t.append(base)
        ids = [r.event_id for r in base.limit(5).collect()]
        t.merge(self._upsert_src(spark, base, ids, 1000.0), on=["event_id"],
                mode="merge-on-read")
        got = t.to_df()
        # exactly one row per key, and it is the NEW version
        assert got.count() == 50
        upd = got.where(F.col("event_id").isin(ids))
        assert upd.count() == len(ids)
        assert upd.where("value < 999").count() == 0

    def test_append_after_merge_not_eaten(self, catalog, spark, events_df):
        base = events_df.limit(40)
        t = catalog.create_table("db.eqapp", base.schema)
        t.append(base)
        ids = [r.event_id for r in base.limit(4).collect()]
        t.merge(self._upsert_src(spark, base, ids, 7.0), on=["event_id"],
                mode="merge-on-read")
        # re-append the SAME keys after the merge: higher sequence, so
        # the older equality delete must not touch them
        late = base.where(F.col("event_id").isin(ids))
        t.append(late)
        got = t.to_df().where(F.col("event_id").isin(ids))
        assert got.count() == 2 * len(ids)

    def test_second_merge_kills_first_batch(self, catalog, spark, events_df):
        base = events_df.limit(30)
        t = catalog.create_table("db.eqtwice", base.schema)
        t.append(base)
        ids = [r.event_id for r in base.limit(3).collect()]
        t.merge(self._upsert_src(spark, base, ids, 10.0), on=["event_id"],
                mode="merge-on-read")
        t.merge(self._upsert_src(spark, base, ids, 20.0), on=["event_id"],
                mode="merge-on-read")
        upd = t.to_df().where(F.col("event_id").isin(ids)).collect()
        assert len(upd) == len(ids)
        base_vals = {r.event_id: r.value for r in base.collect()}
        for r in upd:
            assert abs(r.value - (base_vals[r.event_id] + 20.0)) < 1e-9

    def test_rename_key_column_keeps_deletes_attached(self, catalog, spark, events_df):
        base = events_df.limit(30)
        t = catalog.create_table("db.eqren", base.schema)
        t.append(base)
        ids = [r.event_id for r in base.limit(3).collect()]
        t.merge(self._upsert_src(spark, base, ids, 5.0), on=["event_id"],
                mode="merge-on-read")
        t.rename_column("event_id", "eid")
        got = t.to_df().where(F.col("eid").isin(ids))
        assert got.count() == len(ids)  # field-id keyed: rename is free
        assert got.where("value < 5").count() == 0

    def test_compact_materializes_equality_deletes(self, catalog, spark, events_df):
        base = events_df.limit(60)
        t = catalog.create_table("db.eqcomp", base.schema)
        t.append(base)
        ids = [r.event_id for r in base.limit(6).collect()]
        t.merge(self._upsert_src(spark, base, ids, 3.0), on=["event_id"],
                mode="merge-on-read")
        before = t.to_df().orderBy("event_id").collect()
        t.compact(target_file_size_bytes=1)
        assert t.files().where("content != 'data'").count() == 0
        after = t.to_df().orderBy("event_id").collect()
        assert after == before
        assert t.metadata.snapshots[-1].operation == "replace"

    def test_time_travel_before_merge(self, catalog, spark, events_df):
        base = events_df.limit(25)
        t = catalog.create_table("db.eqtt", base.schema)
        t.append(base)
        pre = t.metadata.current_snapshot_id
        ids = [r.event_id for r in base.limit(2).collect()]
        t.merge(self._upsert_src(spark, base, ids, 9.0), on=["event_id"],
                mode="merge-on-read")
        old = t.scan(snapshot_id=pre)
        assert old.count() == 25
        assert old.subtract(base).count() == 0

    def test_mixed_position_and_equality_deletes(self, catalog, spark, events_df):
        base = events_df.limit(80)
        t = catalog.create_table("db.eqmix", base.schema)
        t.append(base)
        n_pos = t.delete("event_type = 'click'", mode="merge-on-read")
        survivors = [
            r.event_id
            for r in t.to_df().limit(5).collect()
        ]
        t.merge(self._upsert_src(spark, base, survivors, 50.0), on=["event_id"],
                mode="merge-on-read")
        got = t.to_df()
        exp_base = base.where("NOT coalesce(event_type = 'click', false)")
        assert got.count() == exp_base.count()
        assert n_pos > 0
        assert got.where(F.col("event_id").isin(survivors)).where(
            "value < 49"
        ).count() == 0

    def test_merge_key_missing_raises(self, catalog, spark, events_df):
        base = events_df.limit(10)
        t = catalog.create_table("db.eqbad", base.schema)
        t.append(base)
        with pytest.raises(ValueError, match="not in current schema"):
            t.merge(base, on=["no_such_col"], mode="merge-on-read")

    def test_partitioned_merge_writes_scoped_delete_files(
        self, catalog, spark, events_df
    ):
        """VERDICT r4 #4: when the partition source column is a merge
        key, the delete-key write partitions like a data write — one
        file per touched partition (parallel writers, never a
        coalesce(1) funnel), each entry carrying its partition value
        (partition-SCOPED equality deletes)."""
        base = events_df.limit(200).cache()
        t = catalog.create_table(
            "db.eqpart", base.schema, partition_by=[("event_id", "bucket[4]")]
        )
        t.append(base)
        ids = [r.event_id for r in base.limit(40).collect()]
        t.merge(
            self._upsert_src(spark, base, ids, 1000.0),
            on=["event_id"],
            mode="merge-on-read",
        )
        dels = t.files().where("content = 'equality-deletes'").collect()
        assert len(dels) > 1
        buckets = [r.partition.get("event_id_bucket") for r in dels]
        assert all(b is not None for b in buckets)
        assert len(set(buckets)) == len(dels)
        # read path still resolves the upsert exactly
        got = t.to_df()
        assert got.count() == 200
        upd = got.where(F.col("event_id").isin(ids))
        assert upd.count() == len(ids)
        assert upd.where("value < 999").count() == 0
        base.unpersist()

    def test_partitioned_mor_merge_matches_cow_merge(
        self, catalog, spark, events_df
    ):
        """Scoped delete files must not change MERGE semantics: on a
        key-partitioned table, merge-on-read (partition-scoped
        equality deletes) and copy-on-write produce identical rows."""
        base = events_df.limit(150).cache()
        ids = [r.event_id for r in base.limit(12).collect()]
        src = self._upsert_src(spark, base, ids, 77.0)
        cow = catalog.create_table(
            "db.eqpcow", base.schema, partition_by=[("event_id", "bucket[4]")]
        )
        cow.append(base)
        cow.merge(src, on=["event_id"])
        mor = catalog.create_table(
            "db.eqpmor", base.schema, partition_by=[("event_id", "bucket[4]")]
        )
        mor.append(base)
        mor.merge(src, on=["event_id"], mode="merge-on-read")
        assert mor.to_df().subtract(cow.to_df()).count() == 0
        assert cow.to_df().subtract(mor.to_df()).count() == 0
        base.unpersist()

    def test_scoped_delete_files_prune_under_scan_predicate(
        self, catalog, spark, events_df, monkeypatch
    ):
        """A filtered scan must not pay for the whole delete history:
        partition-scoped equality-delete entries whose bucket provably
        fails the predicate are pruned before the anti-join (unscoped
        deletes would all be applied). Results stay identical."""
        import iceberg_rs_spark.sources.icelake as lake

        base = events_df.limit(200).cache()
        t = catalog.create_table(
            "db.eqprune", base.schema, partition_by=[("event_id", "bucket[4]")]
        )
        t.append(base)
        ids = [r.event_id for r in base.limit(40).collect()]
        t.merge(
            self._upsert_src(spark, base, ids, 1000.0),
            on=["event_id"],
            mode="merge-on-read",
        )
        n_delete_files = t.files().where("content = 'equality-deletes'").count()
        assert n_delete_files > 1
        seen: list[int] = []
        orig = lake.Table._apply_equality_deletes

        def counting(self, out, eq_dels, target):
            seen.append(len(eq_dels))
            return orig(self, out, eq_dels, target)

        monkeypatch.setattr(lake.Table, "_apply_equality_deletes", counting)
        target = ids[0]
        got = t.scan(where=f"event_id = {target}").collect()
        # only the target's bucket's delete file survives pruning
        assert seen and seen[-1] < n_delete_files
        assert seen[-1] >= 1
        # and the filtered read is still exact
        assert len(got) == 1
        assert got[0].value >= 1000.0
        base.unpersist()

    def test_unpartitioned_merge_delete_write_is_parallel(
        self, catalog, spark, events_df
    ):
        """Without a key-aligned spec the delete keys are written with
        the dedup shuffle's parallelism (AQE sizes the file count);
        semantics are unchanged from the single-file path."""
        base = events_df.limit(120).cache()
        t = catalog.create_table("db.eqflat", base.schema)
        t.append(base)
        ids = [r.event_id for r in base.limit(15).collect()]
        t.merge(
            self._upsert_src(spark, base, ids, 500.0),
            on=["event_id"],
            mode="merge-on-read",
        )
        dels = t.files().where("content = 'equality-deletes'").collect()
        assert len(dels) >= 1
        assert all(r.partition == {} for r in dels)
        got = t.to_df()
        assert got.count() == 120
        assert (
            got.where(F.col("event_id").isin(ids)).where("value < 499").count()
            == 0
        )
        base.unpersist()


class TestClusteredRewrite:
    """compact(cluster_by=..., strategy=...): sort and z-order layouts.

    The z-order claim worth testing: after the rewrite, a point/range
    predicate on EITHER cluster column prunes most files via min/max
    stats, while a linear sort leaves every non-leading column with
    table-wide envelopes (at sf0.001 the fixture has 15 users and a
    continuous value column, so `value` leads the linear sort to make
    the contrast visible)."""

    @staticmethod
    def _pruned(t, where):
        from iceberg_rs_spark.sources.icelake import _bind_predicate, _split_by_predicate

        md = t.metadata
        return _split_by_predicate(
            t._current_entries(md), _bind_predicate(t.spark, md, where)
        )

    def _fixture(self, catalog, events_df, name, **compact_kw):
        t = catalog.create_table(f"db.{name}", events_df.schema)
        # several unsorted appends -> every file spans both dimensions
        for i in range(4):
            t.append(events_df.where(F.col("event_id") % 4 == i))
        t.compact(target_file_size_bytes=512, **compact_kw)
        return t

    def test_zorder_preserves_data(self, catalog, events_df, spark):
        t = self._fixture(
            catalog, events_df, "z1", cluster_by=["user_id", "value"], strategy="zorder"
        )
        got = t.to_df().agg(
            F.count("*"), F.sum("user_id"), F.round(F.sum("value"), 2)
        ).collect()[0]
        exp = events_df.agg(
            F.count("*"), F.sum("user_id"), F.round(F.sum("value"), 2)
        ).collect()[0]
        assert tuple(got) == tuple(exp)
        latest = max(t.metadata.snapshots, key=lambda sn: sn.sequence_number)
        assert latest.summary["rewrite-strategy"] == "zorder"
        assert latest.summary["cluster-by"] == "user_id,value"

    def test_zorder_prunes_both_dimensions(self, catalog, events_df):
        t = self._fixture(
            catalog, events_df, "z2", cluster_by=["user_id", "value"], strategy="zorder"
        )
        total = len(t._current_entries(t.metadata))
        assert total >= 16, "fixture must produce enough files to measure pruning"
        kept_u, _ = self._pruned(t, "user_id = 7")
        # `value <= 10`, not `value >= 90`: a double file's max leaves
        # NaN out and Spark orders NaN above every number, so only the
        # lower tail of a float column can prune.
        kept_v, _ = self._pruned(t, "value <= 10")
        # Z-curve: a point predicate on either dimension touches only
        # the files whose envelope covers that bucket range.
        assert len(kept_u) <= total / 2
        assert len(kept_v) <= total / 2

    def test_linear_sort_only_prunes_leading_column(self, catalog, events_df):
        t = self._fixture(
            catalog, events_df, "s1", cluster_by=["value", "user_id"], strategy="sort"
        )
        total = len(t._current_entries(t.metadata))
        kept_v, _ = self._pruned(t, "value <= 10")  # see the z-order test
        kept_u, _ = self._pruned(t, "user_id = 7")
        assert len(kept_v) <= total / 2  # leading column clusters tightly
        assert len(kept_u) >= total * 0.9  # trailing column does not prune

    def test_zorder_beats_linear_sort_on_trailing_column(self, catalog, events_df):
        tz = self._fixture(
            catalog, events_df, "z3", cluster_by=["value", "user_id"], strategy="zorder"
        )
        ts_ = self._fixture(
            catalog, events_df, "s2", cluster_by=["value", "user_id"], strategy="sort"
        )
        kz, _ = self._pruned(tz, "user_id = 7")
        ks, _ = self._pruned(ts_, "user_id = 7")
        frac_z = len(kz) / len(tz._current_entries(tz.metadata))
        frac_s = len(ks) / len(ts_._current_entries(ts_.metadata))
        assert frac_z < frac_s / 2

    def test_unknown_strategy_rejected(self, catalog, events_df):
        t = catalog.create_table("db.badstrat", events_df.schema)
        t.append(events_df)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="unknown rewrite strategy"):
            t.compact(cluster_by=["user_id"], strategy="hilbert")


class TestOrphanFiles:
    def _orphan(self, t, name="orphan-00000.parquet"):
        import os

        d = os.path.join(t.location, "data", "deadbeef")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, name)
        with open(p, "wb") as f:
            f.write(b"not a real parquet file")
        return p

    def test_orphans_removed_referenced_kept(self, catalog, events_df):
        import os

        t = catalog.create_table("db.orph", events_df.schema)
        t.append(events_df)
        live = {e.path for e in t._current_entries(t.metadata)}
        p = self._orphan(t)
        removed = t.remove_orphan_files()
        assert removed == [p]
        assert not os.path.exists(p)
        assert all(os.path.exists(f) for f in live)
        assert t.to_df().count() == events_df.count()

    def test_dry_run_and_age_guard(self, catalog, events_df):
        import os

        from iceberg_rs_spark.sources.icelake import _now_ms

        t = catalog.create_table("db.orph2", events_df.schema)
        t.append(events_df)
        p = self._orphan(t)
        assert t.remove_orphan_files(dry_run=True) == [p]
        assert os.path.exists(p)  # dry run deletes nothing
        # a fresh file is protected by an age cutoff in the past
        assert t.remove_orphan_files(older_than_ms=_now_ms() - 60_000) == []
        assert os.path.exists(p)
        # snapshot-referenced files on a NON-current branch also survive
        t.create_branch("keepme")
        t.remove_orphan_files()
        assert not os.path.exists(p)

    def test_all_branch_files_are_referenced(self, catalog, events_df):
        """Files reachable only from an old snapshot (rolled back away
        from main) are still not orphans — every snapshot counts."""
        import os

        t = catalog.create_table("db.orph3", events_df.schema)
        t.append(events_df.limit(10))
        first = min(t.metadata.snapshots, key=lambda s: s.sequence_number)
        t.append(events_df.limit(20))
        second_files = {
            e.path for e in t._current_entries(t.metadata)
        }
        t.rollback_to_snapshot(first.snapshot_id)
        assert t.remove_orphan_files() == []
        assert all(os.path.exists(f) for f in second_files)


    def test_live_mor_delete_files_survive_orphan_removal(
        self, catalog, events_df
    ):
        """The catastrophic class: position-delete files live under
        data/ like data files; the orphan walk must treat them as
        referenced (they ride the same manifests with
        content='position-deletes'), or removal would silently
        resurrect MoR-deleted rows."""
        import os

        base = events_df.limit(120)
        t = catalog.create_table("db.orphmor", base.schema)
        t.append(base)
        n_del = t.delete("event_type = 'click'", mode="merge-on-read")
        assert n_del > 0
        survivors = t.to_df().count()
        del_paths = [
            r.file_path
            for r in t.files().where("content = 'position-deletes'").collect()
        ]
        assert del_paths and all(os.path.exists(p) for p in del_paths)
        removed = t.remove_orphan_files()
        assert removed == []  # nothing live may be touched
        assert all(os.path.exists(p) for p in del_paths)
        # and the deletes still apply on read
        assert t.to_df().count() == survivors
        assert t.to_df().where("event_type = 'click'").count() == 0


class TestClusterByPartitionedGuard:
    def test_partitioned_cluster_by_rejected(self, catalog, events_df):
        import pytest as _pytest

        t = catalog.create_table(
            "db.partz", events_df.schema, partition_by=[("ts", "day")]
        )
        t.append(events_df)
        with _pytest.raises(ValueError, match="unpartitioned"):
            t.compact(cluster_by=["user_id"], strategy="zorder")


class TestFastForwardAndManifests:
    def test_fast_forward_main_to_audit_branch(self, catalog, events_df):
        t = catalog.create_table("db.ffwd", events_df.schema)
        t.append(events_df.limit(10))
        t.create_branch("staging")
        t.append(events_df.limit(25), branch="staging")
        assert t.scan().count() == 10          # main unchanged
        t.fast_forward("main", "staging")
        assert t.scan().count() == 35          # main now at staging head
        # ff is metadata-only: no new snapshot was created
        heads = {r["name"]: r["snapshot_id"] for r in t.refs().collect()}
        assert heads["main"] == heads["staging"]

    def test_fast_forward_refuses_diverged_branch(self, catalog, events_df):
        import pytest as _pytest

        t = catalog.create_table("db.ffwd2", events_df.schema)
        t.append(events_df.limit(10))
        t.create_branch("staging")
        t.append(events_df.limit(25), branch="staging")
        t.append(events_df.limit(5))  # main moves too -> diverged
        with _pytest.raises(ValueError, match="diverged"):
            t.fast_forward("main", "staging")
        with _pytest.raises(KeyError):
            t.fast_forward("main", "nope")

    def test_fast_forward_survives_expired_ancestors(self, catalog, events_df):
        """A retained snapshot may point at a parent removed by
        expire_snapshots; the ancestry walk must treat the missing
        ancestor as end-of-chain (→ diverged), never KeyError
        (ADVICE r3)."""
        import pytest as _pytest

        t = catalog.create_table("db.ffwd3", events_df.schema)
        t.append(events_df.limit(10))
        t.append(events_df.limit(5))
        t.create_branch("staging")
        t.append(events_df.limit(25), branch="staging")
        t.append(events_df.limit(3))  # main moves too -> truly diverged
        # expire everything not reachable-protected; staging's chain now
        # crosses snapshots whose parents were removed
        t.expire_snapshots(retain_last=1)
        with _pytest.raises(ValueError, match="diverged"):
            t.fast_forward("main", "staging")

    def test_rewrite_manifests_reshards_without_touching_data(self, catalog, events_df):
        t = catalog.create_table("db.rwm", events_df.schema)
        for i in range(3):
            t.append(events_df.where(F.col("event_id") % 3 == i))
        before_rows = t.to_df().count()
        before_files = {e.path for e in t._current_entries(t.metadata)}
        snap0 = max(t.metadata.snapshots, key=lambda s: s.sequence_number)
        assert t._manifest_parts(snap0) is None  # few entries: monolithic
        t.rewrite_manifests(shard_size=1)
        snap1 = max(t.metadata.snapshots, key=lambda s: s.sequence_number)
        assert snap1.summary["operation"] == "replace"
        assert snap1.summary["rewrite-manifests"] == "true"
        parts = t._manifest_parts(snap1)
        assert parts is not None and len(parts) == len(before_files)
        assert {e.path for e in t._current_entries(t.metadata)} == before_files
        assert t.to_df().count() == before_rows


class TestChangelogScan:
    def _mk(self, spark, catalog):
        df = spark.range(10).select(
            F.col("id"), (F.col("id") * 10).cast("double").alias("v")
        )
        t = catalog.create_table("db.cl", df.schema)
        return t, df

    def test_appends_and_mor_delete(self, spark, catalog):
        t, df = self._mk(spark, catalog)
        t.append(df.where("id < 5"))
        t.delete("id IN (1, 3)", mode="merge-on-read")
        t.append(df.where("id >= 5"))
        rows = [
            (r["id"], r["_change_type"], r["_change_ordinal"])
            for r in t.changelog_scan().orderBy("_change_ordinal", "id").collect()
        ]
        assert rows == (
            [(i, "insert", 0) for i in range(5)]
            + [(1, "delete", 1), (3, "delete", 1)]
            + [(i, "insert", 2) for i in range(5, 10)]
        )

    def test_replace_skipped_and_range(self, spark, catalog):
        t, df = self._mk(spark, catalog)
        t.append(df.where("id < 5"))
        s1 = t.metadata.current_snapshot_id
        t.compact(target_file_size_bytes=1024)
        t.append(df.where("id >= 5"))
        full = t.changelog_scan()
        # compaction (replace) contributes no change rows
        assert full.where("_change_type = 'delete'").count() == 0
        assert full.count() == 10
        # exclusive-start range sees only the second append
        inc = t.changelog_scan(start_snapshot_id=s1)
        assert sorted(r["id"] for r in inc.collect()) == [5, 6, 7, 8, 9]
        assert inc.select("_change_type").distinct().collect()[0][0] == "insert"

    def test_cow_delete_diff(self, spark, catalog):
        t, df = self._mk(spark, catalog)
        t.append(df)
        t.delete("id >= 8", mode="copy-on-write")
        ch = t.changelog_scan()
        dels = sorted(r["id"] for r in ch.where("_change_type = 'delete'").collect())
        assert dels == [8, 9]
        # the rewrite's surviving rows cancel in the diff: no spurious inserts
        assert ch.where("_change_type = 'insert' AND _change_ordinal = 1").count() == 0

    def test_non_ancestor_start_raises(self, spark, catalog):
        t, df = self._mk(spark, catalog)
        t.append(df)
        with pytest.raises(KeyError):
            t.changelog_scan(start_snapshot_id=12345)


class TestRewritePositionDeletes:
    def test_rewrites_only_referenced_files(self, spark, catalog):
        df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("g"))
        t = catalog.create_table("db.rpd", df.schema)
        t.append(df.where("id < 50"))
        t.append(df.where("id >= 50"))
        t.delete("id IN (3, 11)", mode="merge-on-read")
        before = {
            r.file_path for r in t.files().where("content = 'data'").collect()
        }
        # positions only reference first-append files -> second append's
        # files must survive the rewrite byte-identical (same paths)
        n = t.rewrite_position_deletes()
        assert n >= 1
        after = {r.file_path for r in t.files().where("content = 'data'").collect()}
        assert after & before, "untouched data files were rewritten"
        assert t.files().where("content = 'position-deletes'").count() == 0
        assert sorted(r["id"] for r in t.scan().collect()) == sorted(
            i for i in range(100) if i not in (3, 11)
        )
        assert _ops(t)[-1] == "replace"

    def test_noop_without_deletes(self, spark, catalog):
        df = spark.range(10).toDF("id")
        t = catalog.create_table("db.rpd2", df.schema)
        t.append(df)
        assert t.rewrite_position_deletes() == 0

    def test_equality_deletes_rejected(self, spark, catalog):
        df = spark.range(10).select(F.col("id"), F.col("id").cast("double").alias("v"))
        t = catalog.create_table("db.rpd3", df.schema)
        t.append(df)
        t.delete("id = 7", mode="merge-on-read")
        upd = spark.range(3).select(F.col("id"), (F.col("id") + 100.0).alias("v"))
        t.merge(upd, on=["id"], mode="merge-on-read")
        assert t.files().where("content = 'equality-deletes'").count() >= 1
        # mixed state: rewriting the position deletes would bump the
        # rewritten rows past the equality deletes' sequence numbers
        with pytest.raises(ValueError, match="equality-delete"):
            t.rewrite_position_deletes()


class TestCountRowsFromManifests:
    """r15: Table.count_rows serves COUNT(*) from manifest statistics
    (sum of live data-file record_counts) — must equal scan().count()
    exactly, and must FALL BACK to the real scan as soon as any delete
    file makes per-file liveness data-dependent."""

    def test_count_rows_matches_scan_across_appends_and_specs(
        self, catalog, events_df
    ):
        sub = events_df.where(F.col("user_id") < 200)
        t = catalog.create_table(
            "db.cnt_rows", sub.schema, partition_by=[("ts", "day")]
        )
        assert t.count_rows() == 0
        t.append(sub.where(F.col("event_id") % 2 == 0))
        assert t.count_rows() == t.scan().count()
        t.set_partition_spec([("ts", "day"), ("user_id", "bucket[4]")])
        t.append(sub.where(F.col("event_id") % 2 == 1))
        assert t.count_rows() == t.scan().count()

    def test_count_rows_falls_back_under_mor_deletes(self, catalog, events_df):
        sub = events_df.where(F.col("user_id") < 120)
        t = catalog.create_table("db.cnt_rows_mor", sub.schema)
        t.append(sub)
        t.delete("user_id < 10", mode="merge-on-read")
        # delete files present → manifest sums over-count; the fallback
        # must return the true post-delete count.
        assert t.count_rows() == t.scan().count()


class TestMetadataOnlyDelete:
    """Partition-aligned DELETE fast path: files whose stats prove every
    row matches are dropped from the snapshot without a rewrite."""

    def _day_table(self, catalog, events_df):
        sub = events_df.where(F.col("user_id") < 300)
        t = catalog.create_table(
            "db.ev_days", sub.schema, partition_by=[("ts", "day")]
        )
        t.append(sub)
        return t, sub

    @staticmethod
    def _day_bounds(sub):
        d0 = sub.agg(F.min(F.col("ts").cast("date"))).collect()[0][0]
        d1 = d0 + dt.timedelta(days=1)
        return d0, f"ts >= TIMESTAMP '{d0} 00:00:00' AND ts < TIMESTAMP '{d1} 00:00:00'"

    def test_whole_day_drop_is_metadata_only(self, catalog, events_df):
        t, sub = self._day_table(catalog, events_df)
        before = {e.path for e in t._current_entries(t.metadata)}
        d0, where = self._day_bounds(sub)
        expect_deleted = sub.where(F.col("ts").cast("date") == d0).count()

        deleted = t.delete(where)
        assert deleted == expect_deleted

        snap = t.metadata.snapshot_by_id(t.metadata.current_snapshot_id)
        assert snap.operation == "delete"
        assert int(snap.summary["deleted-files-metadata-only"]) >= 1
        after = {e.path for e in t._current_entries(t.metadata)}
        # metadata-only: no new file was written, some files vanished
        assert after < before
        assert t.scan().where(F.col("ts").cast("date") == d0).count() == 0
        assert t.scan().count() == sub.count() - expect_deleted

    def test_partial_day_falls_back_to_rewrite(self, catalog, events_df):
        t, sub = self._day_table(catalog, events_df)
        d0, _ = self._day_bounds(sub)
        where = f"ts >= TIMESTAMP '{d0} 00:00:00' AND ts < TIMESTAMP '{d0} 06:00:00'"
        expect = sub.where(
            (F.col("ts") >= f"{d0} 00:00:00") & (F.col("ts") < f"{d0} 06:00:00")
        ).count()
        deleted = t.delete(where)
        assert deleted == expect
        snap = t.metadata.snapshot_by_id(t.metadata.current_snapshot_id)
        # the day's file may not be dropped outright (rows 06:00+ live
        # there), so the fast path must not claim it
        assert "deleted-files-metadata-only" not in snap.summary
        assert t.scan().count() == sub.count() - expect

    def test_fast_path_disabled_under_mor_deletes(self, catalog, events_df):
        t, sub = self._day_table(catalog, events_df)
        # a position-delete file anywhere in the table disables the
        # metadata-only path (record_count would overstate `deleted`)
        t.delete("event_id % 17 = 3", mode="merge-on-read")
        live = t.scan().count()
        d0, where = self._day_bounds(sub)
        expect = t.scan().where(F.col("ts").cast("date") == d0).count()
        deleted = t.delete(where)
        assert deleted == expect
        snap = t.metadata.snapshot_by_id(t.metadata.current_snapshot_id)
        assert "deleted-files-metadata-only" not in snap.summary
        assert t.scan().count() == live - expect

    def test_unpartitioned_single_file_still_proves_by_stats(self, catalog, spark):
        """The proof comes from column stats, not the partition spec: a
        file whose [min,max] sits wholly under the predicate is dropped
        metadata-only even without hidden partitioning."""
        df = spark.range(0, 100).select(F.col("id").cast("long").alias("k"))
        t = catalog.create_table("db.stats_only", df.schema)
        t.append(df.where(F.col("k") < 50).coalesce(1))
        t.append(df.where(F.col("k") >= 50).coalesce(1))
        deleted = t.delete("k < 50")
        assert deleted == 50
        snap = t.metadata.snapshot_by_id(t.metadata.current_snapshot_id)
        assert int(snap.summary["deleted-files-metadata-only"]) >= 1
        assert t.scan().count() == 50


class TestReviewFindingsR6:
    """Regression pins for the round-6 adversarial review of this
    module — every case reproduced as a live failure before its fix."""

    def test_merge_after_schema_evolution(self, catalog, spark, events_df):
        """Branch reads share the table's CURRENT schema (schema
        evolution commits no snapshot); projecting the branch head's
        old schema_id broke merge() after add_column."""
        t = catalog.create_table("db.rf_evo", events_df.schema)
        t.append(events_df.limit(10))
        t.add_column("score", "double")
        src = events_df.limit(5).withColumn("score", F.lit(1.5))
        t.merge(src, on=["event_id"])  # raised AnalysisException before
        assert t.scan(branch="main").columns == t.scan().columns
        assert t.scan().where("score = 1.5").count() == 5

    def test_tag_read_keeps_snapshot_schema(self, catalog, events_df):
        """The other half of the rule: tags pin 'what the data meant
        then' — evolution after tagging must not widen a tag read."""
        t = catalog.create_table("db.rf_tag", events_df.schema)
        t.append(events_df.limit(10))
        t.create_tag("v1")
        t.add_column("score", "double")
        assert "score" not in t.scan(tag="v1").columns
        assert "score" in t.scan().columns

    def test_cow_delete_prunes_dangling_position_deletes(
        self, catalog, spark, events_df
    ):
        """A copy-on-write rewrite applies existing position deletes,
        so delete rows referencing the rewritten files must be dropped
        (rewriting mixed files keeps only live positions) — dangling
        positions wedged compact()'s record-count invariant."""
        ids = sorted(r.event_id for r in events_df.limit(40).collect())
        a, b = ids[:20], ids[20:]
        t = catalog.create_table("db.rf_dangle", events_df.schema)
        t.append(events_df.where(F.col("event_id").isin(a)))
        t.append(events_df.where(F.col("event_id").isin(b)))
        t.delete(
            f"event_id IN ({a[0]}, {a[1]}, {b[0]})", mode="merge-on-read"
        )
        t.delete(f"event_id = {a[2]}", mode="copy-on-write")
        from iceberg_rs_spark.sources.icelake import _delete_file_entries

        dels = _delete_file_entries(t._current_entries(t.metadata))
        assert sum(e.record_count for e in dels) == 1  # only b's position
        assert t.scan().count() == 36
        t.compact()  # raised 'compaction changed record count' before
        assert t.scan().count() == 36

    def test_branch_commits_stay_out_of_snapshot_log(
        self, catalog, events_df
    ):
        """snapshot_log is the TIMESTAMP AS OF index for MAIN; side-
        branch commits and side-branch fast-forwards must not log."""
        t = catalog.create_table("db.rf_log", events_df.schema)
        t.append(events_df.limit(3))
        t.create_branch("dev")
        t.create_branch("staging")
        t.append(
            events_df.limit(6).subtract(events_df.limit(3)), branch="staging"
        )
        t.fast_forward("dev", "staging")
        assert [e.snapshot_id for e in t.metadata.snapshot_log] == [
            t.metadata.current_snapshot_id
        ]
        # main fast-forward DOES log (WAP publish shape)
        t.fast_forward("main", "staging")
        assert len(t.metadata.snapshot_log) == 2

    def test_doubled_quote_literal_prunes_correctly(
        self, catalog, spark, events_df
    ):
        """'it''s' is the SQL (and Spark) escape for it's; pruning must
        unescape before comparing to file stats — it silently dropped
        every matching file before."""
        df = events_df.limit(6).withColumn("event_type", F.lit("it's"))
        t = catalog.create_table("db.rf_quote", df.schema)
        t.append(df)
        assert t.scan(where="event_type = 'it''s'").count() == 6

    def test_partition_name_collision_rejected(
        self, catalog, events_df
    ):
        """A derived partition-field name equal to a data column would
        silently overwrite that column's data via the write path's
        withColumn — reject at create/evolve/add/rename time."""
        clash = events_df.limit(4).withColumn("ts_day", F.lit("x"))
        with pytest.raises(ValueError, match="collides"):
            catalog.create_table(
                "db.rf_clash", clash.schema, partition_by=[("ts", "day")]
            )
        t = catalog.create_table(
            "db.rf_clash2", events_df.schema, partition_by=[("ts", "day")]
        )
        t.append(events_df.limit(4))
        with pytest.raises(ValueError, match="collides"):
            t.add_column("ts_day", "string")
        with pytest.raises(ValueError, match="collides"):
            t.rename_column("event_type", "ts_day")
        # spec evolution onto a schema that already holds the derived name
        clash2 = catalog.create_table("db.rf_clash3", clash.schema)
        clash2.append(clash)
        with pytest.raises(ValueError, match="collides"):
            clash2.set_partition_spec([("ts", "day")])

    def test_cow_merge_null_source_value_wins(self, catalog, events_df):
        """'Matched rows take the source's values' includes NULL: both
        merge modes must null the column, not coalesce the old value
        back (they diverged before)."""
        counts = {}
        for mode in ("copy-on-write", "merge-on-read"):
            t = catalog.create_table(f"db.rf_null_{mode[:3]}", events_df.schema)
            t.append(events_df.limit(5))
            src = events_df.limit(2).withColumn(
                "value", F.lit(None).cast("double")
            )
            t.merge(src, on=["event_id"], mode=mode)
            counts[mode] = (
                t.scan().where(F.col("value").isNull()).count(),
                t.scan().count(),
            )
        assert counts["copy-on-write"] == counts["merge-on-read"] == (2, 5)

    def test_expire_retain_last_zero(self, catalog, events_df):
        """retain_last=0 means refs-only retention; ordered[-0:] kept
        every snapshot before."""
        t = catalog.create_table("db.rf_exp0", events_df.schema)
        for _ in range(3):
            t.append(events_df.limit(3))
        t.expire_snapshots(older_than_ms=10**18, retain_last=0)
        # only the ref-pinned head survives
        assert [s.snapshot_id for s in t.metadata.snapshots] == [
            t.metadata.current_snapshot_id
        ]

    def test_files_renders_null_partition_as_null(self, catalog, events_df):
        pdf = events_df.limit(4).withColumn(
            "event_type", F.lit(None).cast("string")
        )
        t = catalog.create_table(
            "db.rf_nullpart", pdf.schema, partition_by=[("event_type", "identity")]
        )
        t.append(pdf)
        parts = [r["partition"] for r in t.files().collect()]
        assert parts and all(p.get("event_type") is None for p in parts)
        assert t.scan().count() == 4


class TestDropColumnGuards:
    """drop_column must refuse to orphan a field id the WRITE PATH still
    resolves from the current schema (default partition spec source,
    default sort-order source, identifier field) — before the guard,
    the drop succeeded and every later write crashed with an opaque
    AttributeError deep in _partition_exprs, leaving the table
    write-wedged. Old (non-default) specs may be orphaned: their files'
    partition values live in the manifests, never re-derived."""

    def test_partition_source_refused_until_spec_evolves(self, catalog, spark):
        df = spark.createDataFrame(
            [(1, "a", 5, 10), (2, "b", 6, 20)],
            "id long, s string, v int, w int",
        )
        t = catalog.create_table(
            "db.dropguard_part", df.schema, partition_by=[("id", "bucket[4]")]
        )
        t.append(df)
        with pytest.raises(ValueError, match="partition field"):
            t.drop_column("id")
        # non-source columns still droppable, table still writable
        t.drop_column("s")
        t.append(spark.createDataFrame([(3, 7, 30)], "id long, v int, w int"))
        assert t.scan().count() == 3
        # the documented escape hatch: evolve the spec, then drop
        t.set_partition_spec(["v"])
        t.drop_column("id")
        t.append(spark.createDataFrame([(9, 90)], "v int, w int"))
        assert t.scan().count() == 4

    def test_sort_order_source_refused(self, catalog, spark):
        df = spark.createDataFrame([(1, 5)], "id long, v int")
        t = catalog.create_table("db.dropguard_sort", df.schema)
        t.append(df)
        t.write_ordered_by([("v", "identity", "asc", "nulls-first")])
        with pytest.raises(ValueError, match="sort order"):
            t.drop_column("v")
        t.write_ordered_by([("id", "identity", "asc", "nulls-first")])
        t.drop_column("v")
        t.append(spark.createDataFrame([(2,)], "id long"))
        assert t.scan().count() == 2


class TestRandomizedLifecycleDifferential:
    """Random interleavings of the write surface, differentially checked
    against a plain python dict oracle after EVERY commit, then time
    travel back to every recorded snapshot (SURVEY.md §5.4 made
    adversarial: the 98 example-based lifecycle tests each pin one
    interaction; this sweeps the interaction SPACE — CoW and MoR
    deletes over earlier MoR merges, partition overwrites over
    position-deleted files, compaction mid-history — where table
    formats actually break).

    Keys are unique by construction (merge on a duplicate key is the
    one place CoW and MoR semantics legitimately diverge — CoW join
    fan-out vs equality-delete collapse — and Iceberg's
    identifier-field contract assumes uniqueness anyway).

    Parameterized over BOTH commit backends (VERDICT r11 #2): the
    whole sweep runs once on the POSIX-link local backend and once on
    the object-store conditional-PUT CAS fake with deterministic chaos
    armed — every 5th claim loses the CAS to a racer that lands a REAL
    competing property-only commit, every 7th finds its staged upload
    swept by a concurrent orphan sweep. The dict oracle must still
    match after every commit, which certifies the CommitBackend
    contract is *sufficient* for object-store failure surfaces, not
    just locally satisfied."""

    SCHEMA = "id long, grp long, val long"

    @pytest.fixture(autouse=True, params=["local", "objectstore-chaos"])
    def lifecycle_backend(self, request, monkeypatch):
        if request.param == "local":
            yield request.param
            return
        from iceberg_rs_spark.sources import icelake as lake
        from tests.object_store_fake import ObjectStoreFakeBackend

        fake = ObjectStoreFakeBackend(lose_every=5, sweep_every=7)
        monkeypatch.setattr(lake, "DEFAULT_COMMIT_BACKEND", fake)
        yield request.param
        # vacuity: the chaos must actually have fired during the sweep,
        # or a refactor that stops routing commits through the backend
        # hollows this parameterization silently
        assert fake.puts_committed > 0
        assert fake.conflicts_injected + fake.sweeps_injected > 0, (
            "chaos injection never fired"
        )

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, self.SCHEMA)

    @staticmethod
    def _read(t, **kw):
        return sorted((r.id, r.grp, r.val) for r in t.scan(**kw).collect())

    @staticmethod
    def _expect(state):
        return sorted((i, g, v) for i, (g, v) in state.items())

    def test_random_op_sequences_match_dict_oracle(self, catalog, spark):
        import random
        from collections import Counter

        ops_seen: Counter = Counter()
        for seed in diff_seeds(11, 23, 37):
            rnd = random.Random(seed)
            t = catalog.create_table(
                f"db.rand_lifecycle_{seed}",
                self._df(spark, [(0, 0, 0)]).schema,
                partition_by=[("grp", "identity")],
            )
            state: dict[int, tuple[int, int]] = {}
            next_id = 0
            states: list[tuple[int, dict, str]] = []

            def fresh(n, rng):
                nonlocal next_id
                rows = [
                    (next_id + i, rng.randrange(5), rng.randrange(100))
                    for i in range(n)
                ]
                next_id += n
                return rows

            # seed data so early deletes/merges have something to hit
            rows = fresh(8, rnd)
            t.append(self._df(spark, rows))
            state.update({i: (g, v) for i, g, v in rows})
            states.append((t.metadata.current_snapshot_id, dict(state), "append"))

            for step in range(12):
                ops = ["append", "delete", "merge", "overwrite_parts", "compact"]
                if step < 7:
                    # rollback forks the history (it re-points main at an
                    # old snapshot without committing a new one); keep it
                    # early so the maintenance phase's kept-last-3 set is
                    # unambiguously on the live chain
                    ops.append("rollback")
                op = rnd.choice(ops)
                ops_seen[op] += 1
                if op == "append":
                    rows = fresh(rnd.randint(1, 6), rnd)
                    t.append(self._df(spark, rows))
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "delete":
                    mode = rnd.choice(["copy-on-write", "merge-on-read"])
                    if rnd.random() < 0.5:
                        g = rnd.randrange(5)
                        where = f"grp = {g}"
                        hit = [i for i, (gg, _) in state.items() if gg == g]
                    else:
                        x = rnd.randrange(100)
                        where = f"val > {x}"
                        hit = [i for i, (_, v) in state.items() if v > x]
                    t.delete(where, mode=mode)
                    for i in hit:
                        del state[i]
                elif op == "merge":
                    mode = rnd.choice(["copy-on-write", "merge-on-read"])
                    upd = rnd.sample(
                        sorted(state), min(len(state), rnd.randint(0, 4))
                    )
                    rows = [
                        (i, rnd.randrange(5), rnd.randrange(100)) for i in upd
                    ] + fresh(rnd.randint(0, 3), rnd)
                    if not rows:
                        continue
                    t.merge(self._df(spark, rows), on=["id"], mode=mode)
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "overwrite_parts":
                    grps = {rnd.randrange(5) for _ in range(rnd.randint(1, 2))}
                    rows = [
                        (i, rnd.choice(sorted(grps)), v)
                        for i, _, v in fresh(rnd.randint(1, 4), rnd)
                    ]
                    t.overwrite_partitions(self._df(spark, rows))
                    # replaces exactly the partitions PRESENT in the df
                    # (a sampled grp that no generated row landed in is
                    # untouched)
                    present = {g for _, g, _ in rows}
                    for i in [
                        i for i, (g, _) in state.items() if g in present
                    ]:
                        del state[i]
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "rollback":
                    target_snap, target_state, _ = rnd.choice(states)
                    t.rollback_to_snapshot(target_snap)
                    state = dict(target_state)
                else:
                    # bin-pack only: cluster-by rewrite refuses
                    # partitioned tables by design (one file per
                    # partition per write leaves nothing to lay out)
                    t.compact()
                assert self._read(t) == self._expect(state), (
                    f"seed {seed}: divergence after {op}"
                )
                states.append(
                    (t.metadata.current_snapshot_id, dict(state), op)
                )

            # every recorded snapshot must still reproduce its state
            for snap_id, snap_state, _op in states:
                assert self._read(t, snapshot_id=snap_id) == self._expect(
                    snap_state
                ), f"seed {seed}: time travel to {snap_id} diverged"

            # and the changelog between every consecutive snapshot pair
            # must reconcile exactly to the dict-state diff (inserts =
            # rows gained, deletes = rows lost; an update is one of
            # each; a compact/replace or no-op pair yields nothing)
            for (s0, d0, _), (s1, d1, op1) in zip(states, states[1:]):
                if s0 == s1:
                    # the op matched nothing and committed no snapshot
                    # (or rolled back to the immediately prior snapshot)
                    assert d0 == d1
                    continue
                if op1 == "rollback":
                    # the pair spans a history fork: s0 is a DESCENDANT
                    # of the rollback target, not an ancestor — both
                    # consumers must refuse rather than fabricate a diff
                    for fn in (t.changelog_scan, t.incremental_scan):
                        with pytest.raises(KeyError, match="ancestor"):
                            fn(start_snapshot_id=s0, end_snapshot_id=s1)
                    continue
                cl = t.changelog_scan(
                    start_snapshot_id=s0, end_snapshot_id=s1
                ).collect()
                got_ins = sorted(
                    (r.id, r.grp, r.val)
                    for r in cl
                    if r["_change_type"] == "insert"
                )
                got_del = sorted(
                    (r.id, r.grp, r.val)
                    for r in cl
                    if r["_change_type"] == "delete"
                )
                rows0 = set(self._expect(d0))
                rows1 = set(self._expect(d1))
                assert got_ins == sorted(rows1 - rows0), (
                    f"seed {seed}: changelog inserts {s0}->{s1} diverged"
                )
                assert got_del == sorted(rows0 - rows1), (
                    f"seed {seed}: changelog deletes {s0}->{s1} diverged"
                )

                # incremental (append-only) scan over the same pair:
                # appends deliver exactly the gained rows, compaction
                # ranges deliver nothing (replace skipped), and every
                # other operation must REFUSE — silently re-delivering
                # rewritten files would duplicate rows downstream
                if op1 == "append":
                    inc = sorted(
                        (r.id, r.grp, r.val)
                        for r in t.incremental_scan(
                            start_snapshot_id=s0, end_snapshot_id=s1
                        ).collect()
                    )
                    assert inc == sorted(rows1 - rows0), (
                        f"seed {seed}: incremental scan {s0}->{s1} diverged"
                    )
                elif op1 == "compact":
                    assert (
                        t.incremental_scan(
                            start_snapshot_id=s0, end_snapshot_id=s1
                        ).count()
                        == 0
                    )
                else:
                    with pytest.raises(ValueError, match="incremental"):
                        t.incremental_scan(
                            start_snapshot_id=s0, end_snapshot_id=s1
                        )

            # maintenance over the random history, LAST (it destroys
            # the older snapshots the loops above read): expiring all
            # but the last 3 snapshots and sweeping orphans must leave
            # the current state and every KEPT snapshot readable — the
            # classic failure is expire deleting a data/delete file an
            # older kept snapshot (or a live MoR scan) still references
            kept = {s for s, _, _ in states[-3:]}
            removed = set(t.expire_snapshots(retain_last=3))
            assert kept.isdisjoint(removed), (
                f"seed {seed}: kept snapshot expired"
            )
            t.remove_orphan_files()
            assert self._read(t) == self._expect(state), (
                f"seed {seed}: current read broken after expire+orphan sweep"
            )
            for snap_id, snap_state, _op in states:
                if snap_id in kept:
                    assert self._read(t, snapshot_id=snap_id) == self._expect(
                        snap_state
                    ), (
                        f"seed {seed}: kept snapshot {snap_id} broken "
                        "after maintenance"
                    )

        # vacuity guard across seeds: every op kind (incl. rollback)
        # must actually have fired, or a seed change hollows the sweep
        assert set(ops_seen) == {
            "append", "delete", "merge", "overwrite_parts", "compact",
            "rollback",
        }, dict(ops_seen)

    def test_random_branch_ops_isolated_then_fast_forwarded(
        self, catalog, spark
    ):
        """Branch dimension of the same sweep: random writes land on
        main and dev alternately, each branch tracked by its own dict
        oracle, with BOTH branches re-read after every commit — one
        branch's CoW/MoR writes must never leak into the other (they
        share data files until divergence). Then the WAP shape: a
        branch written in isolation fast-forwards into main exactly."""
        import random

        rnd = random.Random(101)
        t = catalog.create_table(
            "db.rand_branches",
            self._df(spark, [(0, 0, 0)]).schema,
            partition_by=[("grp", "identity")],
        )
        next_id = 0

        def fresh(n):
            nonlocal next_id
            rows = [
                (next_id + i, rnd.randrange(4), rnd.randrange(100))
                for i in range(n)
            ]
            next_id += n
            return rows

        seed_rows = fresh(6)
        t.append(self._df(spark, seed_rows))
        base = {i: (g, v) for i, g, v in seed_rows}
        t.create_branch("dev")
        state = {"main": dict(base), "dev": dict(base)}

        for _ in range(10):
            br = rnd.choice(["main", "dev"])
            st = state[br]
            op = rnd.choice(["append", "delete", "merge"])
            if op == "append":
                rows = fresh(rnd.randint(1, 4))
                t.append(self._df(spark, rows), branch=br)
                st.update({i: (g, v) for i, g, v in rows})
            elif op == "delete":
                g = rnd.randrange(4)
                t.delete(
                    f"grp = {g}",
                    branch=br,
                    mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                )
                for i in [i for i, (gg, _) in st.items() if gg == g]:
                    del st[i]
            else:
                upd = rnd.sample(sorted(st), min(len(st), 2))
                rows = [
                    (i, rnd.randrange(4), rnd.randrange(100)) for i in upd
                ] + fresh(1)
                t.merge(
                    self._df(spark, rows),
                    on=["id"],
                    branch=br,
                    mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                )
                st.update({i: (g, v) for i, g, v in rows})
            # isolation: BOTH branches match their own oracle
            for b in ("main", "dev"):
                got = self._read(t, branch=b) if b != "main" else self._read(t)
                assert got == self._expect(state[b]), (
                    f"branch {b} diverged after {op} on {br}"
                )

        # WAP: stage commits on an isolated branch, then publish
        t.create_branch("wap")
        wap = dict(state["main"])
        rows = fresh(3)
        t.append(self._df(spark, rows), branch="wap")
        wap.update({i: (g, v) for i, g, v in rows})
        g = rnd.randrange(4)
        t.delete(f"grp = {g}", branch="wap", mode="merge-on-read")
        for i in [i for i, (gg, _) in wap.items() if gg == g]:
            del wap[i]
        assert self._read(t) == self._expect(state["main"]), (
            "WAP staging leaked into main"
        )
        t.fast_forward("main", "wap")
        assert self._read(t) == self._expect(wap), (
            "fast-forward did not publish the WAP branch exactly"
        )

    def test_random_schema_evolution_interleaved_with_writes(
        self, catalog, spark
    ):
        """Schema-evolution dimension of the sweep: random add / rename
        / drop of extra columns interleaved with CoW/MoR writes, the
        oracle tracking rows as per-column dicts. Current reads must
        show the live column set (null-backfilled across file
        generations); time-travel reads must reproduce each snapshot's
        OWN column set and values ("what the data meant then").
        Evolution is applied immediately before a write so each
        snapshot's stamped schema matches the recorded live set
        (evolution itself commits no snapshot)."""
        import random

        rnd = random.Random(53)
        t = catalog.create_table(
            "db.rand_evolve",
            self._df(spark, [(0, 0, 0)]).schema,
            partition_by=[("grp", "identity")],
        )
        extras: list[str] = []
        n_cols = 0
        state: dict[int, dict] = {}
        next_id = 0
        history: list[tuple[int, dict, tuple]] = []

        def fresh(n):
            nonlocal next_id
            out = []
            for _ in range(n):
                row = {"id": next_id, "grp": rnd.randrange(4),
                       "val": rnd.randrange(100)}
                for c in extras:
                    row[c] = rnd.randrange(1000) if rnd.random() < 0.8 else None
                out.append(row)
                next_id += 1
            return out

        def make_df(rows):
            cols = ["id", "grp", "val"] + extras
            schema = ", ".join(f"{c} long" for c in cols)
            return spark.createDataFrame(
                [tuple(r[c] for c in cols) for r in rows], schema
            )

        def read_current():
            cols = ["id", "grp", "val"] + extras
            return sorted(
                tuple(r[c] for c in cols) for r in t.scan().collect()
            )

        def expect(st, cols):
            return sorted(tuple(r.get(c) for c in cols) for r in st.values())

        rows = fresh(6)
        t.append(make_df(rows))
        state.update({r["id"]: dict(r) for r in rows})
        history.append(
            (t.metadata.current_snapshot_id, {k: dict(v) for k, v in state.items()},
             tuple(extras))
        )

        evolved = {"add": 0, "rename": 0, "drop": 0}
        for _ in range(14):
            # maybe evolve (immediately before the write that commits it)
            evo = rnd.random()
            if evo < 0.3:
                n_cols += 1
                c = f"c{n_cols}"
                t.add_column(c, "long")
                extras.append(c)
                for r in state.values():
                    r[c] = None
                evolved["add"] += 1
            elif evo < 0.45 and extras:
                old = rnd.choice(extras)
                n_cols += 1
                new = f"r{n_cols}"
                t.rename_column(old, new)
                extras[extras.index(old)] = new
                for r in state.values():
                    r[new] = r.pop(old)
                evolved["rename"] += 1
            elif evo < 0.6 and extras:
                c = extras.pop(rnd.randrange(len(extras)))
                t.drop_column(c)
                for r in state.values():
                    r.pop(c, None)
                evolved["drop"] += 1

            op = rnd.choice(["append", "merge", "delete"])
            if op == "append":
                rows = fresh(rnd.randint(1, 4))
                t.append(make_df(rows))
                state.update({r["id"]: dict(r) for r in rows})
            elif op == "merge":
                upd = rnd.sample(sorted(state), min(len(state), 2))
                rows = []
                for i in upd:
                    r = {"id": i, "grp": rnd.randrange(4),
                         "val": rnd.randrange(100)}
                    for c in extras:
                        r[c] = rnd.randrange(1000) if rnd.random() < 0.8 else None
                    rows.append(r)
                rows += fresh(1)
                t.merge(
                    make_df(rows), on=["id"],
                    mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                )
                state.update({r["id"]: dict(r) for r in rows})
            else:
                g = rnd.randrange(4)
                t.delete(
                    f"grp = {g}",
                    mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                )
                for i in [i for i, r in state.items() if r["grp"] == g]:
                    del state[i]

            cols = ["id", "grp", "val"] + extras
            assert read_current() == expect(state, cols), (
                f"divergence after {op} with columns {cols}"
            )
            # an op that matched nothing commits no snapshot — a
            # preceding evolution then lives only in current metadata,
            # so the OLD snapshot must keep its old column set; don't
            # record the new columns against it
            if t.metadata.current_snapshot_id != history[-1][0]:
                history.append(
                    (t.metadata.current_snapshot_id,
                     {k: dict(v) for k, v in state.items()}, tuple(extras))
                )

        # vacuity guard: the sequence must actually exercise all three
        # evolution kinds (a seed change that stops producing them
        # would silently hollow the sweep out)
        assert all(evolved.values()), evolved

        # time travel: each snapshot reads back with ITS schema + values
        for snap_id, st, ext in history:
            cols = ["id", "grp", "val"] + list(ext)
            got = sorted(
                tuple(r[c] for c in cols)
                for r in t.scan(snapshot_id=snap_id).collect()
            )
            assert got == expect(st, cols), (
                f"time travel to {snap_id} diverged (columns {cols})"
            )

    def test_random_ops_with_clustered_compaction_unpartitioned(
        self, catalog, spark
    ):
        """Clustered-rewrite dimension: on an UNPARTITIONED table (the
        layout cluster-by compaction exists for), random writes are
        interleaved with bin-pack / sort / z-order rewrites under a
        dict oracle — a rewrite strategy that loses, duplicates, or
        double-applies MoR delete files changes the content; all three
        must be pure layout changes."""
        import random

        rnd = random.Random(71)
        t = catalog.create_table(
            "db.rand_cluster", self._df(spark, [(0, 0, 0)]).schema
        )
        state: dict[int, tuple[int, int]] = {}
        next_id = 0

        def fresh(n):
            nonlocal next_id
            rows = [
                (next_id + i, rnd.randrange(4), rnd.randrange(100))
                for i in range(n)
            ]
            next_id += n
            return rows

        rows = fresh(8)
        t.append(self._df(spark, rows))
        state.update({i: (g, v) for i, g, v in rows})

        strategies_run = set()
        for step in range(10):
            op = rnd.choice(["append", "delete", "merge", "compact"])
            if op == "append":
                rows = fresh(rnd.randint(1, 4))
                t.append(self._df(spark, rows))
                state.update({i: (g, v) for i, g, v in rows})
            elif op == "delete":
                x = rnd.randrange(100)
                t.delete(
                    f"val > {x}",
                    mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                )
                for i in [i for i, (_, v) in state.items() if v > x]:
                    del state[i]
            elif op == "merge":
                upd = rnd.sample(sorted(state), min(len(state), 2))
                rows = [
                    (i, rnd.randrange(4), rnd.randrange(100)) for i in upd
                ] + fresh(1)
                t.merge(
                    self._df(spark, rows),
                    on=["id"],
                    mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                )
                state.update({i: (g, v) for i, g, v in rows})
            else:
                strat = rnd.choice(["bin-pack", "sort", "zorder"])
                t.compact(
                    strategy=strat,
                    cluster_by=None if strat == "bin-pack" else ["grp", "val"],
                    target_file_size_bytes=4096,  # force multi-file layouts
                )
                strategies_run.add(strat)
            got = sorted((r.id, r.grp, r.val) for r in t.scan().collect())
            assert got == self._expect(state), (
                f"divergence after {op} at step {step}"
            )
        # force the strategies the random walk missed, on the final state
        for strat in {"sort", "zorder"} - strategies_run:
            t.compact(
                strategy=strat,
                cluster_by=["grp", "val"],
                target_file_size_bytes=4096,
            )
            got = sorted((r.id, r.grp, r.val) for r in t.scan().collect())
            assert got == self._expect(state), f"divergence after {strat}"

    def test_random_ops_over_typed_columns(self, catalog, spark):
        """Typed-column dimension of the sweep (VERDICT r8 ask #6):
        decimal(12,2) / uuid / time / fixed[4] — the reference's types
        with no native Spark equivalent (schema.rs:90-147) — carried
        through random append / CoW+MoR delete / CoW+MoR merge /
        compaction / rollback interleavings under a dict oracle, with
        time travel to every snapshot and expire+orphan maintenance at
        the end. The single-append pin is table_typed_columns_roundtrip;
        this pins the typed round-trip against the whole WRITE surface
        (a rewrite that re-encodes a decimal, truncates a fixed, or
        reformats a uuid diverges immediately)."""
        import random
        from collections import Counter
        from decimal import Decimal

        from iceberg_rs_spark.model import (
            IceField,
            IcePrimitive,
            IceSchema,
            IceStruct,
        )

        schema = IceSchema(
            schema_id=0,
            struct=IceStruct(
                (
                    IceField(1, "id", True, IcePrimitive("long")),
                    IceField(2, "price", False, IcePrimitive("decimal(12,2)")),
                    IceField(3, "rid", False, IcePrimitive("uuid")),
                    IceField(4, "t_us", False, IcePrimitive("time")),
                    IceField(5, "tag", False, IcePrimitive("fixed[4]")),
                )
            ),
        )
        ddl = "id long, price decimal(12,2), rid string, t_us long, tag binary"

        def read(t, **kw):
            return sorted(
                (r.id, r.price, r.rid, r.t_us, bytes(r.tag))
                for r in t.scan(**kw).collect()
            )

        def expect(st):
            return sorted((i, *v) for i, v in st.items())

        ops_seen: Counter = Counter()
        for seed in diff_seeds(101, 307, 211):
            rnd = random.Random(seed)

            def mk_uuid():
                h = f"{rnd.getrandbits(128):032x}"
                return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"

            def typed_vals():
                return (
                    Decimal(rnd.randrange(0, 40000)) / 100,
                    mk_uuid(),
                    rnd.randrange(86400) * 1_000_000,
                    bytes(rnd.randrange(256) for _ in range(4)),
                )

            next_id = 0

            def fresh(n):
                nonlocal next_id
                rows = [(next_id + i, *typed_vals()) for i in range(n)]
                next_id += n
                return rows

            t = catalog.create_table(f"db.rand_typed_{seed}", schema)
            state: dict[int, tuple] = {}
            rows = fresh(8)
            t.append(spark.createDataFrame(rows, ddl))
            state.update({r[0]: r[1:] for r in rows})
            states = [(t.metadata.current_snapshot_id, dict(state), "append")]

            for step in range(12):
                ops = [
                    "append", "delete_price", "delete_time", "delete_uuid",
                    "merge", "compact",
                ]
                if step < 7:
                    ops.append("rollback")
                op = rnd.choice(ops)
                ops_seen[op] += 1
                if op == "append":
                    rows = fresh(rnd.randint(1, 5))
                    t.append(spark.createDataFrame(rows, ddl))
                    state.update({r[0]: r[1:] for r in rows})
                elif op == "delete_price":
                    # threshold off the 2dp grid: no boundary ties
                    # between the decimal comparison and the oracle
                    x = rnd.randrange(0, 400) + 0.005
                    t.delete(
                        f"price > {x}",
                        mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                    )
                    for i in [i for i, v in state.items() if float(v[0]) > x]:
                        del state[i]
                elif op == "delete_time":
                    x = rnd.randrange(86400) * 1_000_000
                    t.delete(
                        f"t_us < {x}",
                        mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                    )
                    for i in [i for i, v in state.items() if v[2] < x]:
                        del state[i]
                elif op == "delete_uuid":
                    if not state:
                        continue
                    victim = rnd.choice(sorted(state))
                    t.delete(
                        f"rid = '{state[victim][1]}'",
                        mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                    )
                    del state[victim]
                elif op == "merge":
                    upd = rnd.sample(
                        sorted(state), min(len(state), rnd.randint(0, 3))
                    )
                    rows = [(i, *typed_vals()) for i in upd] + fresh(
                        rnd.randint(0, 2)
                    )
                    if not rows:
                        continue
                    t.merge(
                        spark.createDataFrame(rows, ddl),
                        on=["id"],
                        mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                    )
                    state.update({r[0]: r[1:] for r in rows})
                elif op == "rollback":
                    target_snap, target_state, _ = rnd.choice(states)
                    t.rollback_to_snapshot(target_snap)
                    state = dict(target_state)
                else:
                    t.compact()
                assert read(t) == expect(state), (
                    f"seed {seed}: typed divergence after {op} at step {step}"
                )
                states.append(
                    (t.metadata.current_snapshot_id, dict(state), op)
                )

            for snap_id, snap_state, _op in states:
                assert read(t, snapshot_id=snap_id) == expect(snap_state), (
                    f"seed {seed}: typed time travel to {snap_id} diverged"
                )

            kept = {s for s, _, _ in states[-3:]}
            removed = set(t.expire_snapshots(retain_last=3))
            assert kept.isdisjoint(removed)
            t.remove_orphan_files()
            assert read(t) == expect(state), (
                f"seed {seed}: typed current read broken after maintenance"
            )
            for snap_id, snap_state, _op in states:
                if snap_id in kept:
                    assert read(t, snapshot_id=snap_id) == expect(snap_state)

        assert set(ops_seen) == {
            "append", "delete_price", "delete_time", "delete_uuid",
            "merge", "compact", "rollback",
        }, dict(ops_seen)

    def test_random_add_files_interleaved_with_writes(
        self, catalog, spark, tmp_path
    ):
        """Name-mapping/add_files dimension (VERDICT r8 ask #6):
        metadata-only registration of raw field-id-less parquet with
        legacy column names, randomly interleaved with native appends,
        CoW+MoR deletes and merges over BOTH kinds of files,
        compaction, and rollback. The dict oracle cannot tell a
        registered row from a written one — and neither may any read
        or rewrite path: a CoW delete must rewrite a raw file through
        the mapping without resurrecting or re-encoding rows, MoR
        position deletes must land on raw files, and compaction must
        fold them. Ends with expire+orphan maintenance under the
        Iceberg add_files ownership contract: the table owns imported
        files, so expire MAY delete an unreachable one, but anything a
        kept snapshot references must survive — and the orphan sweep
        never sees external paths at all."""
        import os
        import random

        from iceberg_rs_spark.model import NameMapping

        for seed in (137, 149):
            rnd = random.Random(seed)
            t = catalog.create_table(
                f"db.rand_addf_{seed}", self._df(spark, [(0, 0, 0)]).schema
            )
            sch = t.schema()
            mapping = [
                NameMapping(sch.field_by_name("id").id, ("id", "rid")),
                NameMapping(sch.field_by_name("grp").id, ("grp", "g")),
                NameMapping(sch.field_by_name("val").id, ("val", "v")),
            ]
            state: dict[int, tuple[int, int]] = {}
            next_id = 0
            n_raw = 0
            raw_files: list[str] = []

            def fresh(n):
                nonlocal next_id
                rows = [
                    (next_id + i, rnd.randrange(5), rnd.randrange(100))
                    for i in range(n)
                ]
                next_id += n
                return rows

            def add_raw(rows):
                nonlocal n_raw
                raw = tmp_path / f"raw_{seed}_{n_raw}"
                n_raw += 1
                (
                    self._df(spark, rows)
                    .selectExpr("id AS rid", "grp AS g", "val AS v")
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(str(raw))
                )
                # re-specifying the same mapping every call is
                # idempotent and keeps the property present even after
                # a rollback rewound metadata
                t.add_files(str(raw), name_mapping=mapping)
                raw_files.extend(
                    os.path.join(r, f)
                    for r, _d, fs in os.walk(raw)
                    for f in fs
                    if f.endswith(".parquet")
                )

            rows = fresh(6)
            t.append(self._df(spark, rows))
            state.update({i: (g, v) for i, g, v in rows})
            rows = fresh(5)
            add_raw(rows)
            state.update({i: (g, v) for i, g, v in rows})
            states = [(t.metadata.current_snapshot_id, dict(state), "add_raw")]

            for step in range(12):
                ops = ["append", "add_raw", "delete", "merge", "compact"]
                if step < 7:
                    ops.append("rollback")
                op = rnd.choice(ops)
                if op == "append":
                    rows = fresh(rnd.randint(1, 4))
                    t.append(self._df(spark, rows))
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "add_raw":
                    rows = fresh(rnd.randint(1, 4))
                    add_raw(rows)
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "delete":
                    mode = rnd.choice(["copy-on-write", "merge-on-read"])
                    if rnd.random() < 0.5:
                        g = rnd.randrange(5)
                        where = f"grp = {g}"
                        hit = [i for i, (gg, _) in state.items() if gg == g]
                    else:
                        x = rnd.randrange(100)
                        where = f"val > {x}"
                        hit = [i for i, (_, v) in state.items() if v > x]
                    t.delete(where, mode=mode)
                    for i in hit:
                        del state[i]
                elif op == "merge":
                    upd = rnd.sample(
                        sorted(state), min(len(state), rnd.randint(0, 3))
                    )
                    rows = [
                        (i, rnd.randrange(5), rnd.randrange(100)) for i in upd
                    ] + fresh(rnd.randint(0, 2))
                    if not rows:
                        continue
                    t.merge(
                        self._df(spark, rows),
                        on=["id"],
                        mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                    )
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "rollback":
                    target_snap, target_state, _ = rnd.choice(states)
                    t.rollback_to_snapshot(target_snap)
                    state = dict(target_state)
                else:
                    t.compact()
                assert self._read(t) == self._expect(state), (
                    f"seed {seed}: add_files divergence after {op} "
                    f"at step {step}"
                )
                states.append(
                    (t.metadata.current_snapshot_id, dict(state), op)
                )

            # deterministic coverage: force any op kind the random walk
            # missed, so every seed exercises the full surface (the
            # clustered-compaction sweep uses the same pattern)
            missing = {
                "append", "add_raw", "delete", "merge", "compact", "rollback"
            } - {op for _, _, op in states}
            for op in sorted(missing):
                if op == "append":
                    rows = fresh(2)
                    t.append(self._df(spark, rows))
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "add_raw":
                    rows = fresh(2)
                    add_raw(rows)
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "delete":
                    t.delete("grp = 0", mode="merge-on-read")
                    for i in [i for i, (g, _) in state.items() if g == 0]:
                        del state[i]
                elif op == "merge":
                    rows = [(k, 1, 7) for k in sorted(state)[:1]] + fresh(1)
                    t.merge(self._df(spark, rows), on=["id"], mode="copy-on-write")
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "rollback":
                    target_snap, target_state, _ = states[len(states) // 2]
                    t.rollback_to_snapshot(target_snap)
                    state = dict(target_state)
                else:
                    t.compact()
                assert self._read(t) == self._expect(state), (
                    f"seed {seed}: add_files divergence after forced {op}"
                )
                states.append(
                    (t.metadata.current_snapshot_id, dict(state), op)
                )

            for snap_id, snap_state, _op in states:
                assert self._read(t, snapshot_id=snap_id) == self._expect(
                    snap_state
                ), f"seed {seed}: add_files time travel to {snap_id} diverged"

            kept = {s for s, _, _ in states[-3:]}
            removed = set(t.expire_snapshots(retain_last=3))
            assert kept.isdisjoint(removed)
            t.remove_orphan_files()
            assert self._read(t) == self._expect(state), (
                f"seed {seed}: add_files current read broken after maintenance"
            )
            for snap_id, snap_state, _op in states:
                if snap_id in kept:
                    assert self._read(t, snapshot_id=snap_id) == self._expect(
                        snap_state
                    )
            # Ownership contract (Iceberg add_files): the table OWNS
            # imported files — expire may physically delete one once
            # no retained snapshot references it, but every raw file
            # still referenced by a kept snapshot must survive both
            # expire and the orphan sweep (which only walks the table
            # location and can never see these external paths).
            still_referenced = set()
            for s in t.metadata.snapshots:
                still_referenced.update(e.path for e in t._read_manifest(s))
            for p in raw_files:
                if p in still_referenced:
                    assert os.path.exists(p), (
                        f"seed {seed}: maintenance deleted a raw file a "
                        "kept snapshot still references"
                    )

    def test_random_partition_spec_evolution_interleaved_with_writes(
        self, catalog, spark
    ):
        """Partition-spec-evolution dimension (the §2B axis the sweep
        didn't yet randomize; the directed pin is
        table_partition_evolution_reads): the default spec is
        re-pointed at random among identity(grp) / bucket[4](id) /
        truncate[2](val) / a two-field spec / unpartitioned,
        interleaved with appends, CoW+MoR deletes and merges, and
        compaction — so the live file set spans MIXED specs and every
        read must reconcile across them. Spec evolution is
        metadata-only (commits no snapshot, rewrites nothing — the
        Iceberg contract); pruned reads filter on SOURCE columns and
        must stay exact over files that don't carry that partition
        value (hidden partitioning falls back to stats, never drops a
        file it can't prove empty)."""
        import random

        specs = [
            [("grp", "identity")],
            [("id", "bucket[4]")],
            [("val", "truncate[2]")],
            [("grp", "identity"), ("id", "bucket[4]")],
            [],
        ]
        for seed in (173, 191):
            rnd = random.Random(seed)
            t = catalog.create_table(
                f"db.rand_specevo_{seed}",
                self._df(spark, [(0, 0, 0)]).schema,
                partition_by=[("grp", "identity")],
            )
            state: dict[int, tuple[int, int]] = {}
            next_id = 0
            specs_set = set()

            def fresh(n):
                nonlocal next_id
                rows = [
                    (next_id + i, rnd.randrange(5), rnd.randrange(100))
                    for i in range(n)
                ]
                next_id += n
                return rows

            rows = fresh(8)
            t.append(self._df(spark, rows))
            state.update({i: (g, v) for i, g, v in rows})
            states = [(t.metadata.current_snapshot_id, dict(state), "append")]

            def check(op, step):
                assert self._read(t) == self._expect(state), (
                    f"seed {seed}: spec-evo divergence after {op} at {step}"
                )
                # pruned read on a SOURCE column across mixed specs
                g = rnd.randrange(5)
                got = sorted(
                    (r.id, r.grp, r.val)
                    for r in t.scan(where=f"grp = {g}").collect()
                )
                exp = sorted(
                    (i, gg, v) for i, (gg, v) in state.items() if gg == g
                )
                assert got == exp, (
                    f"seed {seed}: pruned read grp={g} diverged after "
                    f"{op} at {step} (mixed-spec pruning dropped or "
                    "duplicated a file)"
                )

            for step in range(12):
                op = rnd.choice(
                    ["append", "evolve_spec", "delete", "merge", "compact"]
                )
                if op == "append":
                    rows = fresh(rnd.randint(1, 5))
                    t.append(self._df(spark, rows))
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "evolve_spec":
                    idx = rnd.randrange(len(specs))
                    t.set_partition_spec(specs[idx])
                    specs_set.add(idx)
                    # metadata-only: no snapshot, nothing to check yet
                    continue
                elif op == "delete":
                    mode = rnd.choice(["copy-on-write", "merge-on-read"])
                    if rnd.random() < 0.5:
                        g = rnd.randrange(5)
                        where = f"grp = {g}"
                        hit = [i for i, (gg, _) in state.items() if gg == g]
                    else:
                        x = rnd.randrange(100)
                        where = f"val > {x}"
                        hit = [i for i, (_, v) in state.items() if v > x]
                    t.delete(where, mode=mode)
                    for i in hit:
                        del state[i]
                elif op == "merge":
                    upd = rnd.sample(
                        sorted(state), min(len(state), rnd.randint(0, 3))
                    )
                    rows = [
                        (i, rnd.randrange(5), rnd.randrange(100)) for i in upd
                    ] + fresh(rnd.randint(0, 2))
                    if not rows:
                        continue
                    t.merge(
                        self._df(spark, rows),
                        on=["id"],
                        mode=rnd.choice(["copy-on-write", "merge-on-read"]),
                    )
                    state.update({i: (g, v) for i, g, v in rows})
                else:
                    t.compact()
                check(op, step)
                states.append(
                    (t.metadata.current_snapshot_id, dict(state), op)
                )

            # force the spec variants the walk missed, each followed by
            # a write so the mixed-file state actually materializes
            for idx in [i for i in range(len(specs)) if i not in specs_set]:
                t.set_partition_spec(specs[idx])
                rows = fresh(2)
                t.append(self._df(spark, rows))
                state.update({i: (g, v) for i, g, v in rows})
                check(f"forced spec {idx}", "post")
                states.append(
                    (t.metadata.current_snapshot_id, dict(state), "append")
                )

            # time travel across spec generations
            for snap_id, snap_state, _op in states:
                assert self._read(t, snapshot_id=snap_id) == self._expect(
                    snap_state
                ), f"seed {seed}: spec-evo time travel to {snap_id} diverged"

    def test_random_retention_policies_match_python_oracle(
        self, catalog, spark, monkeypatch
    ):
        """Retention dimension of the sweep: expire_snapshots' keep-set
        rules (reference snapshot.rs:84-103 — ref max_ref_age_ms, branch
        min_snapshots_to_keep / max_snapshot_age_ms ancestry walks,
        positional retain_last, older_than cutoff) exercised under a
        SCRIPTED clock with random branch/tag retention configs, random
        main/branch writes, rollback forks, and repeated expires — each
        expire differentially checked against an independent python
        keep-set oracle, then every surviving snapshot re-read and
        compared to its recorded rows (the classic failure being expire
        deleting a data file a kept snapshot — often on another branch
        sharing ancestry — still references)."""
        import random

        from iceberg_rs_spark.sources import icelake as icemod

        clk = {"ms": 1_700_000_000_000}
        monkeypatch.setattr(icemod, "_now_ms", lambda: clk["ms"])

        def expected_expire(md, now, retain_last, older_than_ms=None):
            snaps = {s.snapshot_id: s for s in md.snapshots}
            live_refs = {}
            for name, ref in md.refs.items():
                if name != "main" and ref.max_ref_age_ms is not None:
                    pinned = snaps.get(ref.snapshot_id)
                    if pinned is None:
                        continue  # dangling → drop
                    if now - pinned.timestamp_ms > ref.max_ref_age_ms:
                        continue  # aged out
                live_refs[name] = ref
            keep = set()
            for _name, ref in live_refs.items():
                keep.add(ref.snapshot_id)
                if ref.type == "branch":
                    min_keep = ref.min_snapshots_to_keep or 1
                    max_age = ref.max_snapshot_age_ms
                    sid, count = ref.snapshot_id, 0
                    while sid is not None and sid in snaps:
                        s = snaps[sid]
                        if count < min_keep or (
                            max_age is not None
                            and now - s.timestamp_ms <= max_age
                        ):
                            keep.add(sid)
                        count += 1
                        sid = s.parent_snapshot_id
            if md.current_snapshot_id is not None:
                keep.add(md.current_snapshot_id)
            ordered = sorted(md.snapshots, key=lambda s: s.sequence_number)
            for s in ordered[-retain_last:] if retain_last > 0 else []:
                keep.add(s.snapshot_id)
            removed = {
                s.snapshot_id
                for s in md.snapshots
                if s.snapshot_id not in keep
                and (older_than_ms is None or s.timestamp_ms < older_than_ms)
            }
            return removed, set(live_refs)

        for seed in (227, 241):
            rnd = random.Random(seed)
            t = catalog.create_table(
                f"db.rand_retention_{seed}",
                self._df(spark, [(0, 0, 0)]).schema,
            )
            next_id = 0
            n_ref = 0
            branch_rows: dict[str, set] = {"main": set()}
            snap_rows: dict[int, frozenset] = {}

            def fresh(n):
                nonlocal next_id
                rows = [
                    (next_id + i, rnd.randrange(5), rnd.randrange(100))
                    for i in range(n)
                ]
                next_id += n
                return rows

            def tick():
                clk["ms"] += rnd.randrange(60_000, 3_600_000)

            def do_append(branch):
                rows = fresh(rnd.randint(1, 3))
                t.append(self._df(spark, rows), branch=branch)
                branch_rows[branch].update(rows)
                head = t.metadata.refs[branch].snapshot_id
                snap_rows[head] = frozenset(branch_rows[branch])

            def rand_age():
                return rnd.choice(
                    [None, rnd.randrange(10 * 60_000, 4 * 3_600_000)]
                )

            tick()
            do_append("main")
            n_expires = 0
            for _step in range(24):
                tick()
                branches = [
                    n for n, r in t.metadata.refs.items() if r.type == "branch"
                ]
                op = rnd.choice(
                    ["append", "append", "branch", "tag", "rollback", "expire"]
                )
                if op == "append":
                    do_append(rnd.choice(branches))
                elif op == "branch":
                    name = f"dev_{seed}_{n_ref}"
                    n_ref += 1
                    t.create_branch(
                        name,
                        min_snapshots_to_keep=rnd.choice([None, 1, 2, 3]),
                        max_snapshot_age_ms=rand_age(),
                        max_ref_age_ms=rand_age(),
                    )
                    src = t.metadata.refs[name].snapshot_id
                    branch_rows[name] = set(snap_rows[src])
                elif op == "tag":
                    name = f"tag_{seed}_{n_ref}"
                    n_ref += 1
                    t.create_tag(name, max_ref_age_ms=rand_age())
                elif op == "rollback":
                    # only SURVIVING main-chain snapshots are valid
                    # targets (an expired ancestor's id still appears
                    # as a parent pointer but cannot be restored)
                    md = t.metadata
                    chain, sid = [], md.current_snapshot_id
                    while sid is not None:
                        try:
                            s = md.snapshot_by_id(sid)
                        except KeyError:
                            break
                        chain.append(sid)
                        sid = s.parent_snapshot_id
                    target = rnd.choice(chain)
                    t.rollback_to_snapshot(target)
                    branch_rows["main"] = set(snap_rows[target])
                else:
                    n_expires += 1
                    md = t.metadata
                    retain_last = rnd.randint(1, 3)
                    older = (
                        clk["ms"] - rnd.randrange(0, 6 * 3_600_000)
                        if rnd.random() < 0.4
                        else None
                    )
                    exp_removed, exp_refs = expected_expire(
                        md, clk["ms"], retain_last, older
                    )
                    got_removed = set(
                        t.expire_snapshots(
                            older_than_ms=older, retain_last=retain_last
                        )
                    )
                    assert got_removed == exp_removed, (
                        f"seed {seed}: expire removed {got_removed} but the "
                        f"retention oracle says {exp_removed} "
                        f"(retain_last={retain_last}, older={older})"
                    )
                    md2 = t.metadata
                    assert set(md2.refs) == exp_refs, (
                        f"seed {seed}: surviving refs diverged"
                    )
                    assert {s.snapshot_id for s in md2.snapshots} == {
                        s.snapshot_id for s in md.snapshots
                    } - exp_removed
                    for sid in list(snap_rows):
                        if sid in exp_removed:
                            del snap_rows[sid]
                    # every surviving recorded snapshot must still READ
                    # its rows — shared ancestry files must survive
                    t.remove_orphan_files()
                    for sid, rows in snap_rows.items():
                        got = {
                            (r.id, r.grp, r.val)
                            for r in t.scan(snapshot_id=sid).collect()
                        }
                        assert got == set(rows), (
                            f"seed {seed}: kept snapshot {sid} unreadable "
                            "or wrong after expire+orphan sweep"
                        )

            # the walk must actually have expired something; if not,
            # force one final differential expire
            if n_expires == 0:
                tick()
                md = t.metadata
                exp_removed, exp_refs = expected_expire(md, clk["ms"], 1)
                got = set(t.expire_snapshots(retain_last=1))
                assert got == exp_removed and set(t.metadata.refs) == exp_refs

    def test_random_maintenance_interleaved_is_read_invisible(
        self, catalog, spark
    ):
        """Maintenance dimension of the sweep: rewrite_manifests,
        rewrite_position_deletes, and remove_orphan_files fired at
        random points INSIDE a random write history. The example pins
        each cover one call on a quiet table; the interaction space —
        a position rewrite while a tag still time-travels to the
        pre-rewrite files, an orphan sweep over injected junk while
        rollback has forked the history, a manifest reshard between a
        MoR delete and a MoR merge — is where maintenance corrupts
        reads. Invariants checked after EVERY op:

        * the live read equals the dict oracle (maintenance is
          read-invisible);
        * an orphan sweep removes EXACTLY the injected junk files —
          never a file any snapshot on any fork still references;
        * rewrite_position_deletes refuses (equality-delete guard,
          icelake.py rewrite_position_deletes) exactly when the live
          entry list carries equality deletes, and the refusal leaves
          the table untouched;

        and at the end: time travel to every recorded snapshot and
        every tag, and changelog/incremental silence over every
        maintenance (``replace``) snapshot range."""
        import random
        from collections import Counter

        from iceberg_rs_spark.sources.icelake import _delete_file_entries

        ops_seen: Counter = Counter()
        for seed in (1, 5):  # chosen so the union fires every op kind
            rnd = random.Random(seed)
            t = catalog.create_table(
                f"db.rand_maint_{seed}",
                self._df(spark, [(0, 0, 0)]).schema,
                partition_by=[("grp", "identity")],
            )
            state: dict[int, tuple[int, int]] = {}
            next_id = 0
            states: list[tuple[int, dict, str]] = []
            tags: dict[str, dict] = {}

            def fresh(n, rng):
                nonlocal next_id
                rows = [
                    (next_id + i, rng.randrange(5), rng.randrange(100))
                    for i in range(n)
                ]
                next_id += n
                return rows

            def inject_junk(k):
                import os

                paths = []
                for j in range(k):
                    d = os.path.join(t.location, "data", "junk")
                    os.makedirs(d, exist_ok=True)
                    p = os.path.join(d, f"crashed-{seed}-{len(states)}-{j}.parquet")
                    with open(p, "wb") as f:
                        f.write(b"half-written by a crashed executor")
                    paths.append(p)
                return sorted(paths)

            rows = fresh(8, rnd)
            t.append(self._df(spark, rows))
            state.update({i: (g, v) for i, g, v in rows})
            states.append((t.metadata.current_snapshot_id, dict(state), "append"))

            for step in range(14):
                ops = [
                    "append", "delete_mor", "delete_cow", "merge_mor",
                    "merge_cow", "rewrite_manifests", "rewrite_pos_dels",
                    "orphan_sweep", "compact", "tag",
                ]
                if step < 7:
                    ops.append("rollback")
                op = rnd.choice(ops)
                ops_seen[op] += 1
                if op == "append":
                    rows = fresh(rnd.randint(1, 5), rnd)
                    t.append(self._df(spark, rows))
                    state.update({i: (g, v) for i, g, v in rows})
                elif op in ("delete_mor", "delete_cow"):
                    mode = "merge-on-read" if op == "delete_mor" else "copy-on-write"
                    x = rnd.randrange(100)
                    t.delete(f"val < {x}", mode=mode)
                    for i in [i for i, (_, v) in state.items() if v < x]:
                        del state[i]
                elif op in ("merge_mor", "merge_cow"):
                    mode = "merge-on-read" if op == "merge_mor" else "copy-on-write"
                    upd = rnd.sample(
                        sorted(state), min(len(state), rnd.randint(0, 3))
                    )
                    rows = [
                        (i, rnd.randrange(5), rnd.randrange(100)) for i in upd
                    ] + fresh(rnd.randint(0, 2), rnd)
                    if not rows:
                        continue
                    t.merge(self._df(spark, rows), on=["id"], mode=mode)
                    state.update({i: (g, v) for i, g, v in rows})
                elif op == "rewrite_manifests":
                    t.rewrite_manifests(shard_size=rnd.randint(1, 4))
                elif op == "rewrite_pos_dels":
                    has_eq = any(
                        e.content == "equality-deletes"
                        for e in _delete_file_entries(
                            t._current_entries(t.metadata)
                        )
                    )
                    if has_eq:
                        before = t.metadata.current_snapshot_id
                        with pytest.raises(ValueError, match="equality-delete"):
                            t.rewrite_position_deletes()
                        assert t.metadata.current_snapshot_id == before, (
                            f"seed {seed}: refused rewrite still committed"
                        )
                    else:
                        t.rewrite_position_deletes()
                elif op == "orphan_sweep":
                    junk = inject_junk(rnd.randint(1, 2))
                    removed = t.remove_orphan_files()
                    assert removed == junk, (
                        f"seed {seed}: orphan sweep removed {removed}, "
                        f"expected exactly the injected {junk}"
                    )
                elif op == "compact":
                    t.compact()
                elif op == "tag":
                    name = f"audit-{len(states)}"
                    if name not in tags:
                        t.create_tag(name)
                        tags[name] = dict(state)
                else:
                    target_snap, target_state, _ = rnd.choice(states)
                    t.rollback_to_snapshot(target_snap)
                    state = dict(target_state)
                assert self._read(t) == self._expect(state), (
                    f"seed {seed}: divergence after {op}"
                )
                states.append(
                    (t.metadata.current_snapshot_id, dict(state), op)
                )

            # every recorded snapshot and every tag must still read its
            # rows — the pre-rewrite files a tag pins must have survived
            # every orphan sweep and position rewrite
            for snap_id, snap_state, _op in states:
                assert self._read(t, snapshot_id=snap_id) == self._expect(
                    snap_state
                ), f"seed {seed}: time travel to {snap_id} diverged"
            for name, tag_state in tags.items():
                assert self._read(t, tag=name) == self._expect(tag_state), (
                    f"seed {seed}: tag {name} diverged"
                )

            # maintenance commits are replace snapshots: changelog must
            # yield nothing and incremental scan must count zero rows
            # over their ranges (silently re-delivering rewritten files
            # would duplicate rows downstream)
            maintenance = {"rewrite_manifests", "rewrite_pos_dels", "compact"}
            for (s0, d0, _), (s1, d1, op1) in zip(states, states[1:]):
                if s0 == s1 or op1 not in maintenance:
                    continue
                assert d0 == d1
                assert (
                    t.changelog_scan(
                        start_snapshot_id=s0, end_snapshot_id=s1
                    ).count()
                    == 0
                ), f"seed {seed}: changelog over {op1} not silent"
                assert (
                    t.incremental_scan(
                        start_snapshot_id=s0, end_snapshot_id=s1
                    ).count()
                    == 0
                ), f"seed {seed}: incremental scan over {op1} not silent"

        # vacuity guard: every op kind must actually have fired across
        # the seeds, or a seed change hollows the sweep
        assert set(ops_seen) == {
            "append", "delete_mor", "delete_cow", "merge_mor", "merge_cow",
            "rewrite_manifests", "rewrite_pos_dels", "orphan_sweep",
            "compact", "tag", "rollback",
        }, dict(ops_seen)

    def test_random_concurrent_writer_races_never_lose_updates(
        self, catalog, spark, monkeypatch
    ):
        """Concurrency dimension of the sweep: the four example pins
        (delete vs append, compact vs append, delete vs rewrite, merge
        vs append) each stage ONE version race; this sweeps random
        foreground ops against random concurrent commits injected at
        the version-write moment (the same _write_metadata_version
        seam). The outcome is not predicted — whichever way the
        implementation rules, the differential holds it to the one
        contract that can never bend:

        * the CONCURRENT writer's committed effect survives every
          outcome (no lost update — it won the version slot);
        * if the retried foreground op SUCCEEDS, the final state is the
          snapshot-isolation composition: concurrent effect applied to
          the shared base, then the foreground effect AS PLANNED
          against its read snapshot (a retried delete must not re-plan
          against rows it never read, and must not resurrect rows the
          concurrent writer deleted);
        * if it raises CommitConflict, the foreground op is a perfect
          no-op — no partial files visible, reads equal base +
          concurrent effect only.

        Time travel to every recorded post-step snapshot at the end."""
        import random
        from collections import Counter

        import iceberg_rs_spark.sources.icelake as lake

        orig = lake._write_metadata_version
        outcomes: Counter = Counter()
        fg_seen: Counter = Counter()
        for seed in (3, 29):
            rnd = random.Random(seed)
            t = catalog.create_table(
                f"db.rand_race_{seed}",
                self._df(spark, [(0, 0, 0)]).schema,
                partition_by=[("grp", "identity")],
            )
            t2 = catalog.load_table(f"db.rand_race_{seed}")
            state: dict[int, tuple[int, int]] = {}
            next_id = 0
            states: list[tuple[int, dict]] = []

            def fresh(n, rng):
                nonlocal next_id
                rows = [
                    (next_id + i, rng.randrange(5), rng.randrange(100))
                    for i in range(n)
                ]
                next_id += n
                return rows

            rows = fresh(10, rnd)
            t.append(self._df(spark, rows))
            state.update({i: (g, v) for i, g, v in rows})

            for step in range(10):
                pre = dict(state)
                fg = rnd.choice(
                    ["append", "delete_cow", "delete_mor", "merge_cow",
                     "merge_mor", "compact"]
                )
                fg_seen[fg] += 1
                # plan the foreground call and its dict effect against
                # the read snapshot (= pre), mirroring snapshot isolation
                if fg == "append":
                    fg_rows = fresh(rnd.randint(1, 4), rnd)
                    fg_call = lambda r=fg_rows: t.append(self._df(spark, r))
                    fg_apply = lambda s, r=fg_rows: s.update(
                        {i: (g, v) for i, g, v in r}
                    )
                elif fg in ("delete_cow", "delete_mor"):
                    mode = (
                        "copy-on-write" if fg == "delete_cow" else "merge-on-read"
                    )
                    x = rnd.randrange(100)
                    hit = frozenset(i for i, (_, v) in pre.items() if v < x)
                    fg_call = lambda m=mode, q=x: t.delete(f"val < {q}", mode=m)
                    fg_apply = lambda s, h=hit: [
                        s.pop(i) for i in h if i in s
                    ]
                elif fg in ("merge_cow", "merge_mor"):
                    mode = (
                        "copy-on-write" if fg == "merge_cow" else "merge-on-read"
                    )
                    upd = rnd.sample(
                        sorted(pre), min(len(pre), rnd.randint(1, 3))
                    )
                    fg_rows = [
                        (i, rnd.randrange(5), rnd.randrange(100)) for i in upd
                    ] + fresh(rnd.randint(0, 2), rnd)
                    fg_call = lambda m=mode, r=fg_rows: t.merge(
                        self._df(spark, r), on=["id"], mode=m
                    )
                    fg_apply = lambda s, r=fg_rows: s.update(
                        {i: (g, v) for i, g, v in r}
                    )
                else:
                    fg_call = t.compact
                    fg_apply = lambda s: None

                # one or (sometimes) two concurrent commits, fired on
                # the foreground's successive write attempts — the
                # double race drives the retry loop twice, so a stale
                # re-plan that survives one retry still gets caught.
                # The second racer is always an append: the injected
                # writer itself must never conflict, or the foreground
                # outcome becomes ambiguous.
                conc_ops = []
                if rnd.random() < 0.7:
                    conc = rnd.choice(["append", "delete_cow", "compact"])
                    if conc == "append":
                        c_rows = fresh(rnd.randint(1, 3), rnd)
                        conc_ops.append((
                            lambda r=c_rows: t2.append(self._df(spark, r)),
                            lambda s, r=c_rows: s.update(
                                {i: (g, v) for i, g, v in r}
                            ),
                        ))
                    elif conc == "delete_cow":
                        cx = rnd.randrange(100)
                        c_hit = frozenset(
                            i for i, (_, v) in pre.items() if v >= cx
                        )
                        conc_ops.append((
                            lambda q=cx: t2.delete(f"val >= {q}"),
                            lambda s, h=c_hit: [
                                s.pop(i) for i in h if i in s
                            ],
                        ))
                    else:
                        conc_ops.append((t2.compact, lambda s: None))
                    if rnd.random() < 0.3:
                        c2_rows = fresh(rnd.randint(1, 2), rnd)
                        conc_ops.append((
                            lambda r=c2_rows: t2.append(self._df(spark, r)),
                            lambda s, r=c2_rows: s.update(
                                {i: (g, v) for i, g, v in r}
                            ),
                        ))

                fired = {"n": 0}
                if conc_ops:

                    def racy(location, version, md):
                        if fired["n"] < len(conc_ops):
                            c = conc_ops[fired["n"]][0]
                            fired["n"] += 1
                            c()  # concurrent writer takes this slot
                            raise FileExistsError(version)
                        return orig(location, version, md)

                    monkeypatch.setattr(lake, "_write_metadata_version", racy)
                try:
                    fg_call()
                    ok = True
                except lake.CommitConflict:
                    ok = False
                finally:
                    monkeypatch.setattr(lake, "_write_metadata_version", orig)

                raced = fired["n"] > 0
                # the foreground op may have matched nothing and never
                # attempted a commit — then the race never fired and the
                # concurrent effect must NOT enter the oracle; a
                # semantic conflict inside the retry's updater can also
                # stop the chain between the two racers, so apply only
                # the ones that actually committed
                if raced:
                    for _c, c_apply in conc_ops[: fired["n"]]:
                        c_apply(state)
                    outcomes["raced_ok" if ok else "raced_conflict"] += 1
                    if fired["n"] > 1:
                        outcomes["double_race"] += 1
                else:
                    outcomes["clean"] += 1
                if ok:
                    fg_apply(state)
                assert self._read(t) == self._expect(state), (
                    f"seed {seed} step {step}: {fg} "
                    f"{'succeeded' if ok else 'conflicted'} "
                    f"{'after a race' if raced else 'unraced'} but reads "
                    "diverged from the snapshot-isolation oracle"
                )
                if not ok:
                    assert raced, (
                        f"seed {seed} step {step}: {fg} conflicted with no "
                        "competing commit"
                    )
                states.append((t.metadata.current_snapshot_id, dict(state)))

            for snap_id, snap_state in states:
                assert self._read(t, snapshot_id=snap_id) == self._expect(
                    snap_state
                ), f"seed {seed}: time travel to {snap_id} diverged"

        # vacuity: every foreground kind fired, and the sweep saw both
        # raced successes and at least one genuine CommitConflict
        assert set(fg_seen) == {
            "append", "delete_cow", "delete_mor", "merge_cow", "merge_mor",
            "compact",
        }, dict(fg_seen)
        assert (
            outcomes["raced_ok"] >= 2
            and outcomes["raced_conflict"] >= 1
            and outcomes["double_race"] >= 1
        ), dict(outcomes)


class TestRandomizedRollupMaintenance:
    """Randomized differential for the incremental-view-maintenance
    loop (VERDICT r9 ask #7): the example-based
    `table_incremental_rollup_maintenance` pin covers ONE two-commit
    history; this sweeps the interaction space — random mixes of
    appends and compaction (`replace`) commits, with delta refreshes
    fired at random points, so a single refresh range can span several
    appends, a compaction (forcing incremental_scan's per-snapshot
    slow path), or nothing at all. After EVERY refresh the maintained
    rollup must equal both a python dict recompute over all appended
    rows and the table's own full-scan recompute — the certified
    contract that makes O(delta) refreshes trustworthy at 100 TB.

    Non-append commits ride the sweep too: a delete inside a refresh
    range makes the delta undefined (rewritten files are not new data),
    so incremental_scan must raise LOUDLY and the maintainer REBASES —
    full recompute, fresh start snapshot — exactly the fallback a real
    IVM system takes on a non-appendable range; the walk then resumes
    delta refreshes on top of the rebased materialization."""

    SCHEMA = "id long, grp long, val long"

    def test_random_append_compact_refresh_matches_recompute(self, catalog, spark):
        import random
        from collections import Counter, defaultdict

        import pytest

        ops_seen: Counter = Counter()
        spanning_refreshes = 0  # refreshes whose range crossed a compaction
        rebases = 0  # refreshes that hit a delete and fell back to rebuild
        for seed in diff_seeds(5, 17, 41):
            rnd = random.Random(seed)
            t = catalog.create_table(
                f"db.rand_rollup_{seed}",
                spark.createDataFrame([], self.SCHEMA).schema,
            )
            all_rows: list[tuple[int, int, int]] = []
            next_id = 0

            def fresh(n):
                nonlocal next_id
                rows = [
                    (next_id + i, rnd.randrange(4), rnd.randrange(1000))
                    for i in range(n)
                ]
                next_id += n
                return rows

            def agg_rows(rows):
                acc: dict[int, list[int]] = defaultdict(lambda: [0, 0])
                for _i, g, v in rows:
                    acc[g][0] += 1
                    acc[g][1] += v
                return {g: (n, s) for g, (n, s) in acc.items()}

            # seed commit, then materialize the rollup ONCE from a scan
            rows = fresh(6)
            t.append(spark.createDataFrame(rows, self.SCHEMA))
            all_rows += rows
            rollup: dict[int, list[int]] = defaultdict(lambda: [0, 0])
            for r in t.scan().collect():
                rollup[r.grp][0] += 1
                rollup[r.grp][1] += r.val
            last_snap = t.metadata.current_snapshot_id
            compact_since_refresh = False
            delete_since_refresh = False

            def refresh():
                nonlocal last_snap, spanning_refreshes, compact_since_refresh
                nonlocal delete_since_refresh, rebases, rollup
                if delete_since_refresh:
                    # a delete in the range makes the delta undefined;
                    # the scan must refuse loudly, and the maintainer
                    # rebases: full recompute + fresh start snapshot
                    with pytest.raises(ValueError, match="incremental"):
                        t.incremental_scan(start_snapshot_id=last_snap)
                    rebases += 1
                    rollup = defaultdict(lambda: [0, 0])
                    for r in t.scan().collect():
                        rollup[r.grp][0] += 1
                        rollup[r.grp][1] += r.val
                    delete_since_refresh = False
                    compact_since_refresh = False
                else:
                    if compact_since_refresh:
                        spanning_refreshes += 1
                    compact_since_refresh = False
                    delta = (
                        t.incremental_scan(start_snapshot_id=last_snap)
                        .groupBy("grp")
                        .agg(
                            F.count(F.lit(1)).cast("long").alias("n"),
                            F.coalesce(F.sum("val"), F.lit(0)).cast("long").alias("s"),
                        )
                        .collect()
                    )
                    for r in delta:
                        rollup[r.grp][0] += r.n
                        rollup[r.grp][1] += r.s
                last_snap = t.metadata.current_snapshot_id
                maintained = {g: (n, s) for g, (n, s) in rollup.items() if n}
                # certified equal to the python recompute over all rows...
                assert maintained == agg_rows(all_rows), (
                    f"seed {seed}: maintained rollup diverged from oracle"
                )
                # ...and to the table's own full-scan recompute
                full = {
                    r.grp: (r.n, r.s)
                    for r in t.scan()
                    .groupBy("grp")
                    .agg(
                        F.count(F.lit(1)).cast("long").alias("n"),
                        F.sum("val").cast("long").alias("s"),
                    )
                    .collect()
                }
                assert maintained == full, (
                    f"seed {seed}: maintained rollup diverged from full scan"
                )

            for _step in range(16):
                op = rnd.choice(
                    ["append", "append", "append", "compact", "delete",
                     "refresh", "refresh"]
                )
                ops_seen[op] += 1
                if op == "append":
                    rows = fresh(rnd.randint(1, 5))
                    t.append(spark.createDataFrame(rows, self.SCHEMA))
                    all_rows += rows
                elif op == "compact":
                    t.compact()
                    compact_since_refresh = True
                elif op == "delete":
                    mode = rnd.choice(["copy-on-write", "merge-on-read"])
                    g = rnd.randrange(4)
                    before = t.metadata.current_snapshot_id
                    t.delete(f"grp = {g}", mode=mode)
                    all_rows = [r for r in all_rows if r[1] != g]
                    if t.metadata.current_snapshot_id != before:
                        # only a real commit poisons the range (a
                        # no-match delete commits nothing)
                        delete_since_refresh = True
                else:
                    refresh()
            refresh()  # drain whatever the walk left un-refreshed

        # the sweep must have exercised every operation, at least one
        # refresh range that crossed a compaction (the slow path), and
        # at least one delete-poisoned range (raise + rebase fallback)
        assert set(ops_seen) == {"append", "compact", "delete", "refresh"}, ops_seen
        assert spanning_refreshes > 0, "no refresh range ever spanned a compaction"
        assert rebases > 0, "no refresh range was ever poisoned by a delete"


class TestProcessLevelCommitRace:
    """VERDICT r12 ask #5: the object-store fake's races run inside one
    interpreter, where GIL scheduling can serialize interleavings a
    real S3 CAS would not. This differential drives SEPARATE OS
    processes through ``LocalCommitBackend`` against ONE table
    directory — true preemptive concurrency on the real filesystem's
    ``os.link`` create-exclusive — with randomized commit schedules,
    and reconciles against a dict oracle at the end: every commit
    exactly once (no lost updates), a contiguous torn-free version
    chain, and a metadata log that records every predecessor.

    The workers are deliberately Spark-free (``Table(None, ...)``
    metadata commits through the REAL ``_commit`` retry loop +
    ``_write_metadata_version`` claim): the race lives entirely in the
    version-claim step, so the data plane would add JVM startup, not
    coverage. A start barrier (sentinel file) makes the processes
    genuinely overlap; the writer-switch assertion proves the recorded
    history interleaves rather than serializing worker-by-worker.

    The sweep forced NO contract changes at icelake.py's CommitBackend
    seam — FileExistsError-on-claimed (observed cross-process under
    contention) and the bounded retry loop were exactly sufficient.
    """

    N_WORKERS = 3
    N_COMMITS = 25

    WORKER_SRC = r"""
import os, random, sys, time
repo, loc, wid, n, seed = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]), int(sys.argv[5])
sys.path.insert(0, repo)
from iceberg_rs_spark.sources import icelake as lake

t = lake.Table(None, "db.race", loc)
rng = random.Random(seed)
print("READY", flush=True)
go = os.path.join(loc, "..", "go")
while not os.path.exists(go):
    time.sleep(0.005)
for i in range(n):
    def up(md, i=i):
        props = dict(md.properties)
        props["seq"] = str(int(props.get("seq", "0")) + 1)
        props["w" + wid] = str(i)
        props["last_writer"] = wid
        return md.evolve(properties=props)
    t._commit(up)
    if rng.random() < 0.5:
        time.sleep(rng.random() * 0.004)
print("OK", n, flush=True)
"""

    def test_concurrent_processes_lose_no_commits(self, tmp_path):
        import subprocess
        import sys as _sys

        from iceberg_rs_spark.model import (
            IceField,
            IcePrimitive,
            IceSchema,
            IceStruct,
        )
        from iceberg_rs_spark.sources import icelake as lake

        repo = os.path.dirname(os.path.dirname(os.path.abspath(lake.__file__)))
        wh = str(tmp_path / "wh")
        schema = IceSchema(
            schema_id=0,
            struct=IceStruct((IceField(1, "id", True, IcePrimitive("long")),)),
        )
        catalog = Catalog(None, wh)
        t = catalog.create_table(
            "db.race",
            schema,
            # enough optimistic retries that no worker exhausts the loop
            # under full contention (worst case ~N_WORKERS*N_COMMITS
            # losses for the unluckiest writer)
            properties={"commit.retry.num-retries": "1000"},
        )

        procs = []
        for w in range(self.N_WORKERS):
            p = subprocess.Popen(
                [
                    _sys.executable, "-c", self.WORKER_SRC,
                    repo, t.location, str(w), str(self.N_COMMITS), str(100 + w),
                ],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
            )
            procs.append(p)
        # start barrier: release only after every worker reported READY
        for p in procs:
            assert p.stdout.readline().strip() == "READY"
        open(os.path.join(t.location, "..", "go"), "w").close()
        for w, p in enumerate(procs):
            out, err = p.communicate(timeout=300)
            assert p.returncode == 0, f"worker {w} failed:\n{err}"
            assert f"OK {self.N_COMMITS}" in out, (w, out, err)

        total = self.N_WORKERS * self.N_COMMITS
        md = t.metadata
        # dict-oracle reconcile: no lost updates — the read-modify-write
        # counter equals the number of acknowledged commits, and every
        # worker's final per-key value is its last write
        assert md.properties["seq"] == str(total)
        for w in range(self.N_WORKERS):
            assert md.properties[f"w{w}"] == str(self.N_COMMITS - 1)

        # contiguous, torn-free version chain: v1 (create) ..
        # v<total+1>, every file complete JSON (a torn publish would
        # brick readers)
        writers = []
        for v in range(1, total + 2):
            path = lake._version_path(t.location, v)
            assert os.path.exists(path), f"version chain hole at v{v}"
            doc = lake.TableMetadata.from_json_str(open(path).read())
            if v > 1:
                writers.append(doc.properties["last_writer"])
        assert lake._latest_version(t.location) == total + 1

        # the metadata log records every predecessor exactly once, in
        # version order (each commit appends its parent)
        assert len(md.metadata_log) == total
        logged = [e.metadata_file for e in md.metadata_log]
        assert logged == [
            lake._version_path(t.location, v) for v in range(1, total + 1)
        ]

        # the processes genuinely interleaved: the per-version writer
        # sequence switches identity many times (a serialized run would
        # show N_WORKERS-1 switches)
        switches = sum(1 for a, b in zip(writers, writers[1:]) if a != b)
        assert switches >= self.N_WORKERS * 2, (
            f"only {switches} writer switches — processes did not overlap"
        )
