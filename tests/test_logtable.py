"""Unit tests for the log-structured ACID table format — semantics
asserted per SURVEY.md §5 item 1 (MERGE clause order, replaceWhere
idempotency, time travel, CDF, RESTORE, OPTIMIZE, VACUUM, constraints,
schema evolution)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_delta_lake_migration_spark.tables import LogTable
from databricks_delta_lake_migration_spark.tables.logtable import (
    ConstraintViolationError,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("day", T.StringType()),
    ]
)


def rows_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    t = LogTable.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        partition_by=["day"],
        properties={"enableChangeDataFeed": "true"},
    )
    t.append(
        rows_df(
            spark,
            [
                (1, "PENDING", 10.0, "d1"),
                (2, "COMPLETED", 20.0, "d1"),
                (3, "PENDING", 30.0, "d2"),
            ],
        )
    )
    return t


def state(t, version=None):
    return {
        tuple(r)
        for r in t.read(version=version)
        .select("id", "status", "amount", "day")
        .collect()
    }


def test_create_append_read(table):
    assert state(table) == {
        (1, "PENDING", 10.0, "d1"),
        (2, "COMPLETED", 20.0, "d1"),
        (3, "PENDING", 30.0, "d2"),
    }
    assert table.version() == 1
    d = table.detail()
    assert d["numRecords"] == 3 and d["partitionColumns"] == ["day"]


def test_partition_layout_on_disk(table):
    # hive-style partition dirs → partition pruning at scan time
    assert os.path.isdir(os.path.join(table.path, "day=d1"))
    assert os.path.isdir(os.path.join(table.path, "day=d2"))


def test_upsert_merge(spark, table):
    src = rows_df(spark, [(2, "REFUNDED", 25.0, "d1"), (9, "NEW", 99.0, "d3")])
    res = table.upsert(src, ["id"])
    assert res == {"numUpdatedRows": 1, "numDeletedRows": 0, "numInsertedRows": 1}
    assert state(table) == {
        (1, "PENDING", 10.0, "d1"),
        (2, "REFUNDED", 25.0, "d1"),
        (3, "PENDING", 30.0, "d2"),
        (9, "NEW", 99.0, "d3"),
    }


def test_merge_file_pruning_leaves_unmatched_partition_alone(spark, table, monkeypatch):
    from databricks_delta_lake_migration_spark.tables import logtable as lt

    monkeypatch.setattr(lt, "MERGE_PRUNE_THRESHOLD_BYTES", 0)  # force probe path
    before = {
        f.path for f in table._replay()[0] if f.path.startswith("day=d2")
    }
    table.upsert(rows_df(spark, [(1, "X", 11.0, "d1")]), ["id"])
    after = {f.path for f in table._replay()[0] if f.path.startswith("day=d2")}
    assert before == after  # d2's file not rewritten


def test_merge_conditional_clauses(spark, table):
    src = rows_df(
        spark,
        [
            (1, "ANY", 0.0, "d1"),   # matched, amount 10 → delete clause
            (3, "ANY", 0.0, "d2"),   # matched, amount 30 → update clause
            (7, "BIG", 70.0, "d9"),  # not matched, insert-condition holds
            (8, "SMALL", 1.0, "d9"), # not matched, condition fails → dropped
        ],
    )
    res = (
        table.merge(src, "target.id = source.id")
        .when_matched_delete(condition="target.amount < 15")
        .when_matched_update(set={"status": "'TOUCHED'"})
        .when_not_matched_insert_all(condition="source.amount >= 50")
        .execute()
    )
    assert res == {"numUpdatedRows": 1, "numDeletedRows": 1, "numInsertedRows": 1}
    assert state(table) == {
        (2, "COMPLETED", 20.0, "d1"),
        (3, "TOUCHED", 30.0, "d2"),
        (7, "BIG", 70.0, "d9"),
    }


def test_merge_ambiguous_source_raises(spark, table):
    src = rows_df(spark, [(1, "A", 1.0, "d1"), (1, "B", 2.0, "d1")])
    with pytest.raises(ValueError, match="multiple source rows"):
        table.upsert(src, ["id"])


def test_update_delete(table):
    res = table.update("status = 'PENDING' AND amount < 15", {"status": "'EXPIRED'"})
    assert res["numUpdatedRows"] == 1
    res = table.delete("day = 'd2'")
    assert res["numDeletedRows"] == 1
    assert state(table) == {
        (1, "EXPIRED", 10.0, "d1"),
        (2, "COMPLETED", 20.0, "d1"),
    }


def test_time_travel_and_restore(spark, table):
    v1 = state(table)
    table.delete("id = 1")
    assert state(table) != v1
    assert state(table, version=1) == v1  # versionAsOf
    table.restore(version=1)
    assert state(table) == v1
    # history records all four commits
    ops = [r.operation for r in table.history().collect()]
    assert ops == ["RESTORE", "DELETE", "WRITE", "CREATE TABLE"]


def test_replace_where_idempotent(spark, table):
    gold = rows_df(spark, [(100, "GOLD", 1.0, "d1"), (101, "GOLD", 2.0, "d1")])
    for _ in range(2):  # rerun must be idempotent
        table.overwrite(gold, replace_where="day = 'd1'")
        assert state(table) == {
            (100, "GOLD", 1.0, "d1"),
            (101, "GOLD", 2.0, "d1"),
            (3, "PENDING", 30.0, "d2"),
        }


def test_replace_where_rejects_out_of_scope_rows(spark, table):
    bad = rows_df(spark, [(100, "GOLD", 1.0, "d2")])
    with pytest.raises(ValueError, match="violate"):
        table.overwrite(bad, replace_where="day = 'd1'")


def _uncommitted_files(t):
    """Data files and bloom sidecars under the table root that no
    commit ever added (change-feed files excluded)."""
    committed = set()
    for c in t.commits():
        for e in c.add:
            committed.add(os.path.normpath(e.path))
            if e.bloom:
                committed.add(os.path.normpath(e.bloom))
    out = []
    for d, _, names in os.walk(t.path):
        for n in names:
            rel = os.path.relpath(os.path.join(d, n), t.path)
            if rel.startswith("_changes"):
                continue
            if n.endswith((".parquet", ".bloom.json")) and rel not in committed:
                out.append(rel)
    return out


def test_replace_where_overwrite_is_one_job(spark, tmp_path, job_ids):
    """The replaceWhere check rides the write job: the input is
    computed once (a separate violation count made it two jobs)."""
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA, partition_by=["day"])
    df = rows_df(spark, [(1, "A", 1.0, "d1"), (2, "B", 2.0, "d1")])
    assert len(job_ids(lambda: t.overwrite(df, replace_where="day = 'd1'"))) == 1
    assert state(t) == {(1, "A", 1.0, "d1"), (2, "B", 2.0, "d1")}


def test_rejected_writes_commit_nothing_and_leave_no_files(spark, tmp_path, table):
    """A replaceWhere or CHECK violation is found by the write job
    itself; the just-written files (and bloom sidecars) are deleted and
    the version does not move."""
    v = table.version()
    mixed = rows_df(spark, [(100, "GOLD", 1.0, "d1"), (101, "GOLD", 2.0, "d2")])
    with pytest.raises(ValueError, match="1 input rows violate"):
        table.overwrite(mixed, replace_where="day = 'd1'")
    assert table.version() == v
    assert _uncommitted_files(table) == []

    t = LogTable.create(
        spark,
        str(tmp_path / "c"),
        SCHEMA,
        properties={
            "constraint.valid_amount": "amount > 0",
            "bloomfilter.columns": '["id"]',
        },
    )
    t.append(rows_df(spark, [(1, "OK", 5.0, "d1")]))
    v = t.version()
    bad = rows_df(spark, [(2, "OK", 1.0, "d1"), (3, "BAD", -1.0, "d1")])
    for write in (
        lambda: t.append(bad),
        lambda: t.overwrite(bad),
        lambda: t.overwrite(bad, replace_range="day"),
        lambda: t.update("id = 1", {"amount": "-5.0"}),
    ):
        with pytest.raises(ConstraintViolationError, match="valid_amount"):
            write()
        assert t.version() == v
        assert _uncommitted_files(t) == []
    assert {tuple(r) for r in t.read().collect()} == {(1, "OK", 5.0, "d1")}


def test_replace_range_empty_or_null_key_batch_commits_nothing(spark, table):
    v, before = table.version(), state(table)
    table.overwrite(rows_df(spark, []), replace_range="day")
    table.overwrite(rows_df(spark, [(7, "N", 7.0, None)]), replace_range="day")
    assert table.version() == v
    assert state(table) == before
    assert _uncommitted_files(table) == []


def test_replace_range_replaces_batch_range_and_carries_survivors(spark, tmp_path):
    """The replaced range is the batch's own [min, max] of the key;
    rows outside it that share a file with replaced rows survive, and a
    re-run of the same batch changes nothing."""
    t = LogTable.create(spark, str(tmp_path / "r"), SCHEMA)  # one file
    t.append(
        rows_df(spark, [(i, "OLD", float(i), f"d{i}") for i in range(1, 5)])
    )
    batch = rows_df(spark, [(20, "NEW", 2.0, "d2"), (30, "NEW", 3.0, "d3")])
    want = {
        (1, "OLD", 1.0, "d1"),
        (20, "NEW", 2.0, "d2"),
        (30, "NEW", 3.0, "d3"),
        (4, "OLD", 4.0, "d4"),
    }
    for _ in range(2):
        t.overwrite(batch, replace_range="day")
        assert state(t) == want
        assert t.commits()[-1].parameters == {
            "mode": "Overwrite",
            "replaceWhere": "day >= 'd2' AND day <= 'd3'",
        }


def test_cdf_insert_update_delete(spark, table):
    table.update("id = 1", {"amount": "amount + 5"})
    table.delete("id = 2")
    ch = table.read_changes(starting_version=2).select(
        "id", "_change_type", "_commit_version"
    )
    got = {(r.id, r._change_type) for r in ch.collect()}
    assert got == {
        (1, "update_preimage"),
        (1, "update_postimage"),
        (2, "delete"),
    }
    versions = {r._commit_version for r in ch.collect()}
    assert versions == {2, 3}


@pytest.mark.parametrize(
    "partition_by, kwargs, new_ids, deleted",
    [
        (None, {}, [4], {1, 2, 3}),
        (None, {"replace_where": "day = 'd1'"}, [4], {1}),
        (None, {"replace_range": "id"}, [1, 2], {1, 2}),
        (["day"], {"dynamic": True}, [4], {1, 2}),
    ],
    ids=["full", "replace_where", "replace_range", "dynamic"],
)
def test_cdf_overwrite_records_removed_and_written_rows(
    spark, tmp_path, partition_by, kwargs, new_ids, deleted
):
    """With the change feed on, an overwrite's feed holds a delete row
    per removed row and an insert row per written row. replaceWhere
    removes only the rows whose predicate is TRUE: the NULL-day row and
    the d2 row share its file but are kept, and are not in the feed."""
    t = LogTable.create(
        spark, str(tmp_path / "co"), SCHEMA, partition_by=partition_by,
        properties={"enableChangeDataFeed": "true"},
    )
    day2 = "d1" if partition_by else None
    t.append(
        rows_df(
            spark, [(1, "A", 1.0, "d1"), (2, "B", 2.0, day2), (3, "C", 3.0, "d2")]
        ).coalesce(1)
    )
    t.overwrite(rows_df(spark, [(i, "N", 9.0, "d1") for i in new_ids]), **kwargs)
    v = t.version()
    got = {
        (r.id, r._change_type, r._commit_version)
        for r in t.read_changes(starting_version=v).collect()
    }
    want = {(i, "delete", v) for i in deleted} | {(i, "insert", v) for i in new_ids}
    assert got == want


def test_cdf_merge(spark, table):
    table.upsert(
        rows_df(spark, [(2, "REFUNDED", 25.0, "d1"), (9, "NEW", 99.0, "d3")]), ["id"]
    )
    ch = table.read_changes(starting_version=2)
    got = {(r.id, r._change_type) for r in ch.collect()}
    assert got == {
        (2, "update_preimage"),
        (2, "update_postimage"),
        (9, "insert"),
    }


_NULL_DAY = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("day", T.StringType())]
)


@pytest.mark.parametrize(
    "op, want",
    [
        (
            lambda t, s: t.overwrite(
                s.createDataFrame([(3, "d1")], _NULL_DAY), replace_where="day = 'd1'"
            ),
            {(2, None), (3, "d1"), (4, "d2")},
        ),
        (lambda t, s: t.delete("day = 'd1'"), {(2, None), (4, "d2")}),
        (
            lambda t, s: t.update("day = 'd1'", {"id": "id + 10"}),
            {(11, "d1"), (2, None), (4, "d2")},
        ),
        (
            lambda t, s: t.merge(
                s.createDataFrame([(4, "d2")], _NULL_DAY), "target.id = source.id"
            )
            .when_not_matched_by_source_delete(condition="target.day = 'd1'")
            .execute(),
            {(2, None), (4, "d2")},
        ),
    ],
    ids=["replace_where", "delete", "update", "merge_by_source_delete"],
)
def test_null_predicate_row_survives_rewrite(spark, tmp_path, op, want):
    """A row whose predicate is NULL is neither replaced, deleted nor
    updated, also when it shares a file with rows that match: only a
    TRUE predicate selects a row."""
    t = LogTable.create(spark, str(tmp_path / "t"), _NULL_DAY)
    t.append(
        spark.createDataFrame([(1, "d1"), (2, None), (4, "d2")], _NULL_DAY).coalesce(1)
    )
    assert len(t._replay()[0]) == 1
    op(t, spark)
    assert {tuple(r) for r in t.read().collect()} == want


_GOLDEN = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.LongType()),
        T.StructField("amount_x2", T.LongType()),
    ]
)
_GOLDEN_IN = T.StructType(_GOLDEN.fields[:3])


def _golden_table(spark, path):
    t = LogTable.create(
        spark,
        path,
        _GOLDEN,
        properties={
            "enableChangeDataFeed": "true",
            "delta.enableRowTracking": "true",
        },
        generated_columns={"amount_x2": "amount * 2"},
    )
    t.append(
        spark.createDataFrame(
            [
                (1, "a", 10),
                (2, None, 20),
                (3, "c", None),
                (None, "n", 40),
                (5, "e", 50),
                (6, None, 60),
            ],
            _GOLDEN_IN,
        ).coalesce(1)
    )
    return t


def test_cdf_golden_merge_update_delete(spark, tmp_path):
    """Exact change rows (every column, type and version) and row ids of
    a MERGE with every clause kind, an UPDATE of a generated column's
    base and a copy-on-write DELETE, on a row-tracked table with NULLs
    in key and value columns. A NULL key never matches; a clause or
    predicate that is NULL does not fire."""
    t = _golden_table(spark, str(tmp_path / "g"))

    def rows_and_ids():
        return {
            (r.id, r.name, r.amount, r.amount_x2): (r._row_id, r._row_commit_version)
            for r in t.read(row_tracking=True).collect()
        }

    assert rows_and_ids() == {
        (1, "a", 10, 20): (1, 1),
        (2, None, 20, 40): (2, 1),
        (3, "c", None, None): (3, 1),
        (None, "n", 40, 80): (4, 1),
        (5, "e", 50, 100): (5, 1),
        (6, None, 60, 120): (6, 1),
    }
    src = spark.createDataFrame(
        [(1, "A", 11), (2, "B", 21), (3, "C", 30), (None, "z", 99), (7, "g", 70)],
        _GOLDEN_IN,
    )
    res = (
        t.merge(src, "target.id = source.id")
        .when_matched_delete(condition="target.name IS NULL")
        .when_matched_update(
            set={"name": "source.name"}, condition="source.amount > target.amount"
        )
        .when_not_matched_by_source_delete(condition="target.name IS NULL")
        .when_not_matched_by_source_update(
            set={"name": "'gone'"}, condition="target.amount >= 40"
        )
        .when_not_matched_insert_all()
        .execute()
    )
    assert res == {"numUpdatedRows": 3, "numDeletedRows": 2, "numInsertedRows": 2}
    after_merge = rows_and_ids()
    inserted = {after_merge.pop((None, "z", 99, 198)), after_merge.pop((7, "g", 70, 140))}
    assert after_merge == {
        (1, "A", 10, 20): (1, 2),
        (3, "c", None, None): (3, 1),
        (None, "gone", 40, 80): (4, 2),
        (5, "gone", 50, 100): (5, 2),
    }
    new_ids = {i for i, _ in inserted}
    assert {v for _, v in inserted} == {2}
    assert len(new_ids) == 2 and min(new_ids) > 6

    assert t.update("amount < 45", {"amount": "amount + 1"}) == {"numUpdatedRows": 2}
    after_update = rows_and_ids()
    assert {after_update.pop((None, "z", 99, 198))[0], after_update.pop((7, "g", 70, 140))[0]} == new_ids
    assert after_update == {
        (1, "A", 11, 22): (1, 3),
        (3, "c", None, None): (3, 1),
        (None, "gone", 41, 82): (4, 3),
        (5, "gone", 50, 100): (5, 2),
    }

    assert t.delete("amount > 45") == {"numDeletedRows": 3}
    assert rows_and_ids() == {
        (1, "A", 11, 22): (1, 3),
        (3, "c", None, None): (3, 1),
        (None, "gone", 41, 82): (4, 3),
    }

    ch = t.read_changes(starting_version=1)
    assert ch.columns == [
        "id", "name", "amount", "amount_x2",
        "_change_type", "_commit_version", "_commit_timestamp",
    ]
    assert dict(ch.dtypes)["_commit_timestamp"] == "timestamp"
    got = sorted(
        (tuple(r) for r in ch.drop("_commit_timestamp").collect()),
        key=lambda r: (r[5], r[4], -1 if r[0] is None else r[0]),
    )
    assert got == [
        (None, "n", 40, 80, "insert", 1),
        (1, "a", 10, 20, "insert", 1),
        (2, None, 20, 40, "insert", 1),
        (3, "c", None, None, "insert", 1),
        (5, "e", 50, 100, "insert", 1),
        (6, None, 60, 120, "insert", 1),
        (2, None, 20, 40, "delete", 2),
        (6, None, 60, 120, "delete", 2),
        (None, "z", 99, 198, "insert", 2),
        (7, "g", 70, 140, "insert", 2),
        (None, "gone", 40, 80, "update_postimage", 2),
        (1, "A", 10, 20, "update_postimage", 2),
        (5, "gone", 50, 100, "update_postimage", 2),
        (None, "n", 40, 80, "update_preimage", 2),
        (1, "a", 10, 20, "update_preimage", 2),
        (5, "e", 50, 100, "update_preimage", 2),
        (None, "gone", 41, 82, "update_postimage", 3),
        (1, "A", 11, 22, "update_postimage", 3),
        (None, "gone", 40, 80, "update_preimage", 3),
        (1, "A", 10, 20, "update_preimage", 3),
        (None, "z", 99, 198, "delete", 4),
        (5, "gone", 50, 100, "delete", 4),
        (7, "g", 70, 140, "delete", 4),
    ]
    assert ch.filter("_commit_timestamp IS NULL").count() == 0


def test_cdf_merge_postimage_carries_recomputed_generated_column(spark, tmp_path):
    """A MERGE update that changes a generated column's base writes the
    recomputed value, and its update_postimage is that written row."""
    t = _golden_table(spark, str(tmp_path / "g"))
    v = t.version()
    t.upsert(spark.createDataFrame([(1, "A", 500)], _GOLDEN_IN), ["id"])
    assert t.read().filter("id = 1").first()["amount_x2"] == 1000
    got = {
        (r._change_type, r.amount, r.amount_x2)
        for r in t.read_changes(starting_version=v + 1).collect()
    }
    assert got == {("update_preimage", 10, 20), ("update_postimage", 500, 1000)}


def _job_count_table(spark, path, cdf):
    props = {"enableChangeDataFeed": "true", "delta.enableRowTracking": "true"}
    t = LogTable.create(spark, path, SCHEMA, properties=props if cdf else None)
    t.append(
        rows_df(spark, [(i, "OLD", float(i), f"d{i % 3}") for i in range(12)]).coalesce(2)
    )
    return t


def _cdf_merge(t, spark):
    src = rows_df(spark, [(1, "NEW", 1.5, "d1"), (2, "X", 2.0, "d2"), (50, "INS", 5.0, "d0")])
    return (
        t.merge(src, "target.id = source.id")
        .when_matched_delete(condition="source.status = 'X'")
        .when_matched_update_all()
        .when_not_matched_by_source_update(set={"status": "'GONE'"}, condition="target.id > 9")
        .when_not_matched_insert_all()
        .execute()
    )


@pytest.mark.parametrize(
    "cdf, op, bound",
    [
        (False, lambda t, s: t.update("id < 4", {"status": "'U'"}), 3),
        (False, lambda t, s: t.delete("id < 4"), 3),
        (
            False,
            lambda t, s: t.upsert(
                rows_df(s, [(1, "NEW", 1.5, "d1"), (50, "INS", 5.0, "d0")]), ["id"]
            ),
            7,
        ),
        (True, lambda t, s: t.update("id < 4", {"status": "'U'"}), 6),
        (True, lambda t, s: t.delete("id < 4"), 6),
        (True, _cdf_merge, 20),
    ],
    ids=["update", "delete", "upsert", "cdf_update", "cdf_delete", "cdf_merge"],
)
def test_dml_job_count_bounds(spark, tmp_path, job_ids, cdf, op, bound):
    """Spark jobs per copy-on-write DML on a small two-file table,
    counted in the op's job group: the touched-file scan, broadcasts,
    the rewrite and (with CDF and row tracking on) the change-feed
    write. The bounds are the counts measured before the DML paths
    shared one rewrite (the CDF MERGE measured 19 or 20); a rewrite
    must not add a job."""
    t = _job_count_table(spark, str(tmp_path / "j"), cdf)
    assert len(job_ids(lambda: op(t, spark))) <= bound


@pytest.mark.parametrize(
    "op",
    [
        lambda t, s: t.append(rows_df(s, [(90, "NEW", 9.0, "d1")])),
        lambda t, s: t.update("id < 4", {"status": "'U'"}),
        lambda t, s: t.delete("id < 4"),
        lambda t, s: t.upsert(
            rows_df(s, [(1, "NEW", 1.5, "d1"), (50, "INS", 5.0, "d0")]), ["id"]
        ),
        lambda t, s: t.overwrite(
            rows_df(s, [(70, "RW", 7.0, "d1")]), replace_where="day = 'd1'"
        ),
    ],
    ids=["append", "update", "delete", "upsert", "replace_where"],
)
def test_write_reads_one_snapshot(spark, tmp_path, monkeypatch, op):
    """A write reads the table state once and commits against it: at
    most one snapshot, and at most three log listings in all (the
    snapshot's and the commit's own), for an uncontended commit that
    is not at a checkpoint version."""
    from databricks_delta_lake_migration_spark.tables.log import CommitLog

    t = _job_count_table(spark, str(tmp_path / "s"), False)
    calls = {"snapshot": 0, "listing": 0}
    for name in calls:
        inner = getattr(CommitLog, name)

        def counted(self, *args, _name=name, _inner=inner, **kwargs):
            calls[_name] += 1
            return _inner(self, *args, **kwargs)

        monkeypatch.setattr(CommitLog, name, counted)
    v = t.version()
    op(t, spark)
    monkeypatch.undo()
    assert t.version() == v + 1
    assert calls["snapshot"] <= 1 and calls["listing"] <= 3, calls


def test_schema_evolution_merge_schema(spark, table):
    evolved = table.read().withColumn("extra", F.lit("x"))
    table.append(evolved, merge_schema=True)
    assert "extra" in [f.name for f in table.schema().fields]
    # old rows surface NULL for the new column
    nulls = table.read().filter(F.col("extra").isNull()).count()
    assert nulls == 3 and table.read().count() == 6


def test_append_schema_mismatch_is_projected(spark, table):
    # extra column silently dropped without mergeSchema (enforcement)
    df = table.read().withColumn("junk", F.lit(1))
    table.append(df)
    assert "junk" not in table.read().columns


def test_check_constraints(spark, tmp_path):
    t = LogTable.create(
        spark,
        str(tmp_path / "c"),
        SCHEMA,
        properties={"constraint.valid_amount": "amount > 0"},
    )
    t.append(rows_df(spark, [(1, "OK", 5.0, "d1")]))
    with pytest.raises(ConstraintViolationError, match="valid_amount"):
        t.append(rows_df(spark, [(2, "BAD", -1.0, "d1")]))
    assert t.read().count() == 1


def test_optimize_compacts_small_files(spark, table):
    for i in range(4):  # create small-file debris
        table.append(rows_df(spark, [(100 + i, "S", 1.0, "d1")]))
    n_before = table.detail()["numFiles"]
    res = table.optimize()
    assert res["numFilesRemoved"] > res["numFilesAdded"]
    assert table.detail()["numFiles"] < n_before
    assert table.read().count() == 7  # content unchanged


def test_zorder_clusters_and_preserves_content(spark, table):
    before = state(table)
    res = table.zorder(["id", "amount"])
    assert res["numFilesAdded"] >= 1
    assert state(table) == before


@pytest.fixture()
def scattered(spark, tmp_path):
    """8-file table whose string key arrives in hash-scattered order —
    every file's [min,max] spans nearly the whole key domain, so no
    equality/range predicate can skip anything before clustering."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    df = (
        spark.range(20_000)
        .select(
            F.col("id").alias("k"),
            F.format_string("%05d", (F.col("id") * 7919) % 20_000).alias("user_id"),
            F.concat(F.lit("x"), F.col("id")).alias("payload"),
        )
        .repartition(8)  # round-robin: each file sees the full domain
    )
    t = LogTable.create(spark, str(tmp_path / "z"), df.schema)
    t.append(df)
    return t


def test_zorder_tightens_string_stats(spark, scattered):
    """The round-4 regression: hash-bucketed string zorder left every
    file's raw-string [min,max] spanning the domain (measured skipping
    −0.7%). The order-preserving path must shrink per-file stat width."""
    t = scattered

    def total_width(tbl):
        files = tbl._replay()[0]
        assert all(f.stats and "user_id" in f.stats for f in files)
        return sum(
            int(f.stats["user_id"][1][:5]) - int(f.stats["user_id"][0][:5])
            for f in files
        ) / len(files)

    wide = total_width(t)
    t.zorder(["user_id"], n_files=8)
    tight = total_width(t)
    # 8 files over a 20k-value domain: scattered ≈ full domain each,
    # clustered ≈ domain/8 each — demand at least a 4× tightening
    assert tight < wide / 4, (wide, tight)


def test_prune_stats_skips_files_after_zorder(spark, scattered):
    """Deterministic file-skip metric (VERDICT r4 #3): wall time has
    misread clustering twice; count skipped files directly, for a
    string AND a numeric key."""
    t = scattered
    before_s = t.prune_stats("user_id = '12345'")
    before_n = t.prune_stats("k >= 19000")
    assert before_s["files_skipped"] == 0  # scattered: nothing prunable
    assert before_n["files_skipped"] == 0
    t.zorder(["user_id", "k"], n_files=8)
    after_s = t.prune_stats("user_id = '12345'")
    after_n = t.prune_stats("k >= 19000")
    assert after_s["files_skipped"] >= after_s["files_total"] // 4, after_s
    assert after_n["files_skipped"] >= after_n["files_total"] // 4, after_n
    # the metric is advisory only — results are unchanged
    assert t.read(where="user_id = '12345'").count() == 1


def test_null_in_between_file_skipping(spark, tmp_path):
    """Extended skipping forms: IS [NOT] NULL prune on footer null
    counts, IN on min/max range, BETWEEN folded to two range
    conjuncts. Results must equal the plain filter in every case."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    t = LogTable.create(spark, str(tmp_path / "nt"), schema)
    t.append(spark.createDataFrame([(i, None) for i in range(5)], schema).coalesce(1))
    t.append(spark.createDataFrame([(i, i) for i in range(1, 11)], schema).coalesce(1))

    cases = {
        "v IS NOT NULL": 1,   # all-NULL file pruned
        "v IS NULL": 1,       # no-NULL file pruned
        "v IN (100, 200)": 2,  # out of range + all-NULL: both pruned
        "v IN (3, 200)": 1,
        "v BETWEEN 3 AND 5": 1,
        "v BETWEEN 30 AND 50": 2,
    }
    for where, want_skipped in cases.items():
        ps = t.prune_stats(where)
        assert ps["files_skipped"] == want_skipped, (where, ps)
        got = {tuple(r) for r in t.read(where=where).collect()}
        exp = {tuple(r) for r in t.read().filter(F.expr(where)).collect()}
        assert got == exp, where


def test_delete_skips_all_null_file(spark, tmp_path):
    """On the two-file table above, stats skipping keeps the all-NULL
    file out of a comparison DELETE's rewrite, and an IS NULL DELETE
    removes that file alone."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    t = LogTable.create(spark, str(tmp_path / "nd"), schema)
    t.append(spark.createDataFrame([(i, None) for i in range(5)], schema).coalesce(1))
    (null_file,) = [f.path for f in t._replay().files]
    t.append(spark.createDataFrame([(i, i) for i in range(1, 11)], schema).coalesce(1))
    t.delete("v = 3")
    removed = t.commits()[-1].remove
    assert len(removed) == 1 and null_file not in removed
    t.delete("v IS NULL")
    assert t.commits()[-1].remove == [null_file]
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 4, 5, 6, 7, 8, 9, 10]


def test_partition_path_null_and_in_skipping(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("day", T.StringType())]
    )
    t = LogTable.create(spark, str(tmp_path / "pt"), schema, partition_by=["day"])
    t.append(
        spark.createDataFrame(
            [(1, "d1"), (2, "d2"), (3, None)], schema
        ).repartition("day")
    )
    total = t.prune_stats("id >= 0")["files_total"]
    for where, want_read in {
        "day IN ('d1', 'x')": 1,      # only the d1 partition survives
        "day IS NULL": 1,             # only the hive-NULL partition
        "day IS NOT NULL": total - 1,  # NULL partition pruned
        "day = 'd2'": 1,
    }.items():
        ps = t.prune_stats(where)
        assert ps["files_read"] == want_read, (where, ps)
        got = {r.id for r in t.read(where=where).collect()}
        exp = {r.id for r in t.read().filter(F.expr(where)).collect()}
        assert got == exp, where


def test_bloom_filter_point_and_in_skipping(spark, tmp_path):
    """Bloom sidecar index: equality/IN skipping on a high-cardinality
    column whose per-file [min,max] ranges OVERLAP (so range stats
    alone cannot prune). Deterministic: blooms hash with blake2b, so a
    given dataset+probe always prunes the same files."""
    from databricks_delta_lake_migration_spark.tables.logtable import BLOOM_PROP

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("p", T.LongType())]
    )
    t = LogTable.create(
        spark, str(tmp_path / "b"), schema, properties={BLOOM_PROP: '["k"]'}
    )
    evens = [(f"u{i}", i) for i in range(0, 2000, 2)]
    odds = [(f"u{i}", i) for i in range(1, 2000, 2)]
    t.append(spark.createDataFrame(evens, schema).coalesce(1))
    t.append(spark.createDataFrame(odds, schema).coalesce(1))

    # lexicographic min/max of the two files overlap: stats can't
    # prune. Probe values chosen OUTSIDE each bloom's (deterministic)
    # ~1% false-positive set — e.g. 'u42' IS an fp in the odds bloom.
    assert t.prune_stats("k = 'u44'")["files_skipped"] == 1   # odd file out
    assert t.prune_stats("k = 'u45'")["files_skipped"] == 1   # even file out
    assert t.prune_stats("k = 'absent'")["files_skipped"] == 2
    assert t.prune_stats("k IN ('u44', 'u45')")["files_skipped"] == 0
    assert t.prune_stats("k IN ('absent', 'gone')")["files_skipped"] == 2
    # pruned read returns identical results
    got = {tuple(r) for r in t.read(where="k = 'u44'").collect()}
    assert got == {("u44", 44)}

    # point DELETE leans on the same skipping
    res = t.delete("k = 'u44'")
    assert res["numDeletedRows"] == 1
    assert t.read().count() == 1999


def test_bloom_sidecars_vacuumed_with_their_files(spark, tmp_path):
    from databricks_delta_lake_migration_spark.tables.logtable import (
        BLOOM_DIR,
        BLOOM_PROP,
    )

    schema = T.StructType([T.StructField("k", T.StringType())])
    t = LogTable.create(
        spark, str(tmp_path / "bv"), schema, properties={BLOOM_PROP: '["k"]'}
    )
    t.append(spark.createDataFrame([(f"a{i}",) for i in range(100)], schema).coalesce(1))
    bloom_dir = os.path.join(t.path, BLOOM_DIR)
    n_before = sum(len(fs) for _, _, fs in os.walk(bloom_dir))
    assert n_before >= 1
    t.overwrite(spark.createDataFrame([(f"b{i}",) for i in range(100)], schema).coalesce(1))
    gone = t.vacuum(retain_hours=0)
    assert any(rel.endswith(".bloom.json") for rel in gone)  # orphan sidecar GC'd
    # surviving file still prunes through its (retained) sidecar
    assert t.prune_stats("k = 'a5'")["files_skipped"] == t.prune_stats("k = 'a5'")["files_total"]
    assert t.prune_stats("k = 'b5'")["files_read"] >= 1
    assert {r.k for r in t.read(where="k = 'b5'").collect()} == {"b5"}


def test_zorder_hash_strategy_optin(spark, scattered):
    """hash bucketing survives as an explicit opt-in (dictionary/bloom
    readers); content is preserved but no min/max skipping is promised."""
    t = scattered
    n = t.read().count()
    t.zorder(["user_id"], n_files=4, string_strategy="hash")
    assert t.read().count() == n
    with pytest.raises(ValueError, match="string_strategy"):
        t.zorder(["user_id"], string_strategy="bogus")


def test_data_skipping_num_indexed_cols_property(spark, tmp_path):
    """dataSkippingNumIndexedCols: 0 disables stats collection (write-
    heavy tables that never point-query), N indexes only the first N
    schema columns — Delta's knob for bounding commit-log size."""
    from databricks_delta_lake_migration_spark.tables.logtable import STATS_COLS_PROP

    t0 = LogTable.create(
        spark, str(tmp_path / "s0"), SCHEMA, properties={STATS_COLS_PROP: "0"}
    )
    t0.append(rows_df(spark, [(1, "A", 1.0, "d1")]).coalesce(1))
    assert all(f.stats is None for f in t0._replay()[0])

    t1 = LogTable.create(
        spark, str(tmp_path / "s1"), SCHEMA, properties={STATS_COLS_PROP: "1"}
    )
    t1.append(rows_df(spark, [(1, "A", 1.0, "d1")]).coalesce(1))
    stats = t1._replay()[0][0].stats
    assert "id" in stats and "status" not in stats
    # stats-less files stay un-prunable but fully readable
    assert t0.read(where="id = 99").count() == 0
    assert t0.prune_stats("id = 99")["files_skipped"] == 0


def test_optimize_write_and_autocompact(spark, tmp_path):
    """Delta's write-tuning pair: optimizeWrite lands one-ish file per
    partition per append; autoCompact bin-packs a partition inline once
    a write leaves it over the small-file threshold — only the touched
    partition, and the file count stays bounded under repeated
    small appends."""
    from databricks_delta_lake_migration_spark.tables.logtable import (
        AUTOCOMPACT_MIN_FILES_PROP,
        AUTOCOMPACT_PROP,
        OPTWRITE_PROP,
    )

    t = LogTable.create(
        spark,
        str(tmp_path / "wt"),
        SCHEMA,
        partition_by=["day"],
        properties={
            OPTWRITE_PROP: "true",
            AUTOCOMPACT_PROP: "true",
            AUTOCOMPACT_MIN_FILES_PROP: "4",
        },
    )
    # a wide (8-partition) frame over 2 days: optimizeWrite collapses
    # it to one file per day instead of up to 16
    wide = rows_df(
        spark, [(i, "S", float(i), f"d{1 + i % 2}") for i in range(16)]
    ).repartition(8)
    t.append(wide)
    assert t.detail()["numFiles"] == 2

    # repeated single-row appends into d1 only: once d1 crosses 4
    # files, autoCompact folds it back; d2's file is never rewritten
    d2_file = {f.path for f in t._replay()[0] if "day=d2" in f.path}
    for i in range(100, 110):
        t.append(rows_df(spark, [(i, "S", 1.0, "d1")]))
        d1_files = sum(1 for f in t._replay()[0] if "day=d1" in f.path)
        assert d1_files <= 4, d1_files
    assert d2_file <= {f.path for f in t._replay()[0]}
    assert t.read().count() == 26
    assert any(
        c.operation == "OPTIMIZE" for c in t.commits()
    )  # compactions really happened

    # optimizeWrite also governs overwrites (medallion gold path)
    t.overwrite(wide)
    assert t.detail()["numFiles"] == 2


def test_copy_into_idempotent_and_incremental(spark, tmp_path):
    """COPY INTO: re-runs load nothing; new source files load exactly
    once; identity = (path, size, mtime) recovered from the log."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    src = str(tmp_path / "landing")
    spark.createDataFrame([(i, f"v{i}") for i in range(10)], schema).coalesce(
        1
    ).write.parquet(src + "/batch1")
    t = LogTable.create(spark, str(tmp_path / "t"), schema)
    r1 = t.copy_into(src)
    assert r1["numCopiedRows"] == 10 and r1["numLoadedFiles"] >= 1
    # idempotent re-run — and a fresh handle proves the loaded set is
    # recovered from the log, not driver memory
    assert t.copy_into(src)["numLoadedFiles"] == 0
    assert LogTable(spark, t.path).copy_into(src)["numLoadedFiles"] == 0
    assert t.read().count() == 10
    # a new file arrives: only it loads
    spark.createDataFrame([(100, "new")], schema).coalesce(1).write.parquet(
        src + "/batch2"
    )
    r3 = t.copy_into(src)
    assert r3["numCopiedRows"] == 1
    assert t.read().count() == 11
    with pytest.raises(ValueError, match="COPY INTO format"):
        t.copy_into(src, file_format="xml")


def test_copy_into_csv_with_schema_enforcement(spark, tmp_path):
    import os as _os

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    src = str(tmp_path / "csvland")
    _os.makedirs(src)
    with open(src + "/a.csv", "w") as fh:
        fh.write("id,v\n1,x\n2,y\n")
    t = LogTable.create(spark, str(tmp_path / "tc"), schema)
    assert t.copy_into(src, file_format="csv")["numCopiedRows"] == 2
    assert t.copy_into(src, file_format="csv")["numLoadedFiles"] == 0
    assert {tuple(r) for r in t.read().collect()} == {(1, "x"), (2, "y")}


def test_partition_scoped_optimize_and_zorder(spark, table):
    """OPTIMIZE/ZORDER ... WHERE: rewrite only the named partitions —
    files outside the scope keep their identity (incremental
    maintenance; a full re-cluster is never an option at scale)."""
    for i in range(3):  # d1 small-file debris
        table.append(rows_df(spark, [(100 + i, "S", 1.0, "d1")]))
    d2_before = {
        f.path for f in table._replay()[0] if "day=d2" in f.path
    }
    res = table.optimize(where="day = 'd1'")
    assert res["numFilesRemoved"] > 0
    after = {f.path for f in table._replay()[0]}
    assert d2_before <= after  # d2 untouched
    before = state(table)
    table.zorder(["id"], where="day = 'd1'")
    assert {f.path for f in table._replay()[0]} >= d2_before  # still untouched
    assert state(table) == before
    with pytest.raises(ValueError, match="partition-column"):
        table.optimize(where="id = 1")  # not a partition column


def test_vacuum_dry_run_and_delete(spark, table):
    table.delete("id = 1")  # orphans d1's original file
    dry = table.vacuum(retain_hours=0, dry_run=True)
    assert len(dry) >= 1
    gone = table.vacuum(retain_hours=0)
    assert gone == dry
    for rel in gone:
        assert not os.path.exists(os.path.join(table.path, rel))
    # current snapshot still reads fine
    assert table.read().count() == 2


def test_clone_deep_and_shallow(spark, table, tmp_path):
    deep = table.clone(str(tmp_path / "deep"))
    shallow = table.clone(str(tmp_path / "shallow"), shallow=True)
    assert state(deep) == state(table)
    assert state(shallow) == state(table)
    # deep clone is independent of source mutations
    table.delete("id = 1")
    assert (1, "PENDING", 10.0, "d1") in state(deep)


def test_timestamp_as_of(spark, table):
    import time

    ts_after_v1 = time.time()
    table.delete("id = 1")
    old = table.read(timestamp=ts_after_v1)
    assert {r.id for r in old.collect()} == {1, 2, 3}


def test_properties_roundtrip(table):
    table.set_properties({"custom.owner": "etl"})
    assert table.properties()["custom.owner"] == "etl"
    assert table.properties()["enableChangeDataFeed"] == "true"


# ---------------------------------------------------------------------------
# maintenance composites (D11/D12/Q5)
# ---------------------------------------------------------------------------


def test_stats_advisor_flags_small_files(spark, table):
    from databricks_delta_lake_migration_spark.tables.maintenance import (
        table_stats_advisor,
    )

    rep = table_stats_advisor(table)
    assert rep.num_records == 3 and rep.partition_columns == ["day"]
    assert any("OPTIMIZE" in r for r in rep.recommendations)  # tiny files
    table.optimize()
    rep2 = table_stats_advisor(table)
    assert rep2.num_files <= rep.num_files


def test_change_summary_per_key(spark, table):
    from databricks_delta_lake_migration_spark.tables.maintenance import change_summary

    table.update("id = 1", {"amount": "amount + 1"})
    table.update("id = 1", {"amount": "amount + 1"})
    cs = change_summary(table, "id")
    row = {
        (r.id, r._change_type): (r.n_changes, r.first_version, r.last_version)
        for r in cs.collect()
    }
    assert row[(1, "update_postimage")] == (2, 2, 3)


def test_quality_over_versions(spark, table):
    from databricks_delta_lake_migration_spark.tables.maintenance import (
        quality_over_versions,
    )

    table.delete("id = 3")
    q = quality_over_versions(table, ["status"], ["id"], versions=[1, 2])
    rows = {r.version: (r.n_rows, r.unique_keys, r.status_nulls) for r in q.collect()}
    assert rows[1] == (3, True, 0)
    assert rows[2] == (2, True, 0)


def test_compute_stats_persists_to_properties(spark, table):
    import json

    from databricks_delta_lake_migration_spark.tables.maintenance import compute_stats

    stats = compute_stats(table)
    assert stats["numRows"] == 3
    assert stats["columns"]["amount"]["min"] == "10.0"
    assert stats["columns"]["id"]["nullCount"] == 0
    persisted = json.loads(table.properties()["stats"])
    assert persisted == json.loads(json.dumps(stats, default=str))


def test_register_temp_view_sql(spark, table):
    table.read().createOrReplaceTempView("acid_t")
    got = spark.sql("SELECT COUNT(*) AS n, SUM(amount) AS s FROM acid_t").collect()[0]
    assert (got.n, got.s) == (3, 60.0)


def test_add_columns_metadata_only(spark, table):
    import pytest as _pytest

    n_files_before = table.detail()["numFiles"]
    table.add_columns([T.StructField("note", T.StringType())])
    assert table.detail()["numFiles"] == n_files_before  # no rewrite
    assert table.read().filter(F.col("note").isNull()).count() == 3
    with _pytest.raises(ValueError, match="already exist"):
        table.add_columns([T.StructField("note", T.StringType())])


def test_incremental_batch_high_water_mark(spark, table):
    from databricks_delta_lake_migration_spark.tables.maintenance import (
        incremental_batch,
    )

    hwm = table.version()  # processed through initial load
    table.upsert(rows_df(spark, [(2, "R", 25.0, "d1"), (9, "N", 99.0, "d3")]), ["id"])
    table.delete("id = 1")
    fresh, new_hwm = incremental_batch(table, hwm)
    got = {(r.id, r.status) for r in fresh.collect()}
    assert got == {(2, "R"), (9, "N")}  # deletes excluded, postimages in
    assert new_hwm == table.version()
    again, same = incremental_batch(table, new_hwm)
    assert again.count() == 0 and same == new_hwm


def test_optimistic_concurrency_conflict(spark, table):
    import json as _json

    from databricks_delta_lake_migration_spark.tables.logtable import (
        ConcurrentWriteError,
    )

    # a handle that has read the log, then another writer claims the
    # next version out from under it
    t2 = LogTable(spark, table.path)
    props = t2.properties()
    nxt = table.version() + 1
    path = os.path.join(table.log.dir, f"{nxt:020d}.json")
    with open(path, "w") as fh:
        _json.dump(
            {"version": nxt, "timestamp": 0, "operation": "WRITE", "add": [],
             "remove": [], "schema": None, "partitionBy": None, "properties": None,
             "operationParameters": {}, "operationMetrics": {}},
            fh,
        )
    with pytest.raises(ConcurrentWriteError):
        t2._commit(
            __import__(
                "databricks_delta_lake_migration_spark.tables.logtable",
                fromlist=["Commit"],
            ).Commit(version=nxt, timestamp=1.0, operation="WRITE"),
            props,
        )
    # the losing writer's table is still consistent and readable
    assert LogTable(spark, table.path).read().count() == 3


def test_merge_stats_pruning_rewrites_only_overlapping_files(spark, tmp_path):
    """Data skipping via per-file [min,max] stats: a MERGE whose source
    key range misses a file's range must not rewrite that file."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = LogTable.create(spark, str(tmp_path / "sp"), schema)
    # three appends → three files with disjoint contiguous id ranges
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 100)], schema
            ).coalesce(1)
        )
    files_before = {f.path for f in t._replay()[0]}
    assert len(files_before) == 3
    assert all(f.stats and "id" in f.stats for f in t._replay()[0])

    src = spark.createDataFrame([(150, "UP"), (199, "UP")], schema)
    res = t.upsert(src, ["id"])
    assert res == {"numUpdatedRows": 2, "numDeletedRows": 0, "numInsertedRows": 0}
    files_after = {f.path for f in t._replay()[0]}
    # files [0,99] and [200,299] survive untouched; only [100,199] rewritten
    assert len(files_before & files_after) == 2
    got = {tuple(r) for r in t.read().filter("id IN (150, 199, 0, 299)").collect()}
    assert got == {(150, "UP"), (199, "UP"), (0, "v0"), (299, "v299")}


def test_merge_stats_pruning_string_keys_and_inserts(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    t = LogTable.create(spark, str(tmp_path / "sps"), schema)
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], schema).coalesce(1))
    t.append(spark.createDataFrame([("x", 3), ("y", 4)], schema).coalesce(1))
    files_before = {f.path for f in t._replay()[0]}
    # source range ["b","b"] misses file ["x","y"] → that file is pruned
    res = t.upsert(spark.createDataFrame([("b", 20)], schema), ["k"])
    assert res["numUpdatedRows"] == 1 and res["numInsertedRows"] == 0
    assert len(files_before & {f.path for f in t._replay()[0]}) == 1
    # unmatched key beyond every file range: pure insert, nothing rewritten
    files_mid = {f.path for f in t._replay()[0]}
    res = t.upsert(spark.createDataFrame([("zz", 99)], schema), ["k"])
    assert res["numUpdatedRows"] == 0 and res["numInsertedRows"] == 1
    assert files_mid <= {f.path for f in t._replay()[0]}
    assert {tuple(r) for r in t.read().collect()} == {
        ("a", 1), ("b", 20), ("x", 3), ("y", 4), ("zz", 99),
    }


def test_merge_stats_pruning_disabled_on_disjunctive_condition(spark, tmp_path):
    """An OR in the merge predicate makes per-equality pruning unsound —
    the builder must fall back to all-files candidacy and still be right."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = LogTable.create(spark, str(tmp_path / "spo"), schema)
    t.append(spark.createDataFrame([(1, "a"), (2, "b"), (50, "c")], schema).coalesce(1))
    src = spark.createDataFrame([(2, "S"), (50, "T")], schema)
    from databricks_delta_lake_migration_spark.tables.logtable import MergeBuilder

    assert MergeBuilder._equi_pairs("target.id = source.id OR target.v = source.v") == []
    res = (
        t.merge(src, "target.id = source.id OR target.v = source.v")
        .when_matched_update_all()
        .execute()
    )
    assert res["numUpdatedRows"] == 2
    assert {tuple(r) for r in t.read().collect()} == {(1, "a"), (2, "S"), (50, "T")}


def test_merge_legacy_entries_without_stats_stay_candidates(spark, tmp_path):
    """Commit-log entries written before stats collection (stats=None)
    must remain un-prunable, not silently skipped."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = LogTable.create(spark, str(tmp_path / "leg"), schema)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1))
    # simulate a pre-stats log: strip stats in memory and on disk
    import json as _json

    for name in os.listdir(t.log.dir):
        p = os.path.join(t.log.dir, name)
        with open(p) as fh:
            d = _json.load(fh)
        for f in d.get("add", []):
            f.pop("stats", None)
        with open(p, "w") as fh:
            _json.dump(d, fh)
    t.log.cache.clear()  # the files changed under cached versions
    assert all(f.stats is None for f in t._replay()[0])
    res = t.upsert(spark.createDataFrame([(2, "B2")], schema), ["id"])
    assert res["numUpdatedRows"] == 1
    assert {tuple(r) for r in t.read().collect()} == {(1, "a"), (2, "B2")}


def test_dml_stats_skipping_excludes_files_without_scan(spark, tmp_path):
    """UPDATE/DELETE metadata skipping: conjunct evaluation against
    file stats and partition-path values must exclude non-matching
    files before any scan, and results must stay exact."""
    from databricks_delta_lake_migration_spark.tables.logtable import (
        _parse_conjuncts,
        _stats_may_match,
        FileEntry,
    )

    # parser unit checks
    assert _parse_conjuncts("amount > 10 AND status = 'X'") == [
        ("amount", ">", 10), ("status", "=", "X"),
    ]
    assert _parse_conjuncts("10 <= amount") == [("amount", ">=", 10)]
    assert _parse_conjuncts("a = 1 OR b = 2") == []
    assert _parse_conjuncts("NOT (a = 1)") == []

    fe = FileEntry("day=d1/p.parquet", 10, 100, stats={"amount": [5, 20]})
    assert _stats_may_match(fe, [("amount", ">", 10)])
    assert not _stats_may_match(fe, [("amount", ">", 20)])
    assert not _stats_may_match(fe, [("amount", "=", 21)])
    assert not _stats_may_match(fe, [("day", "=", "d2")])   # partition path
    assert _stats_may_match(fe, [("day", "=", "d1")])
    # numeric literal vs string partition value: conservative keep
    assert _stats_may_match(fe, [("day", "=", 7)])

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = LogTable.create(spark, str(tmp_path / "dmlskip"), schema)
    for lo in (0, 100):
        t.append(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 100)], schema
            ).coalesce(1)
        )
    before = {f.path for f in t._replay()[0]}
    res = t.delete("id >= 150")
    assert res["numDeletedRows"] == 50
    after = {f.path for f in t._replay()[0]}
    # file [0,99] untouched by the delete
    assert len(before & after) == 1
    res = t.update("id < 50", {"v": "'LOW'"})
    assert res["numUpdatedRows"] == 50
    assert t.read().filter("v = 'LOW'").count() == 50
    assert t.read().count() == 150


def test_merge_not_matched_by_source_full_mirror(spark, table):
    """Full CDC mirror: source is the complete desired state — update
    matches, insert new keys, delete target rows absent from source."""
    src = rows_df(
        spark,
        [
            (1, "SYNCED", 11.0, "d1"),  # matched → update
            (4, "NEW", 40.0, "d3"),     # not matched → insert
            # ids 2,3 absent → not matched by source → delete
        ],
    )
    res = (
        table.merge(src, "target.id = source.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .when_not_matched_by_source_delete()
        .execute()
    )
    assert res == {"numUpdatedRows": 1, "numDeletedRows": 2, "numInsertedRows": 1}
    assert state(table) == {
        (1, "SYNCED", 11.0, "d1"),
        (4, "NEW", 40.0, "d3"),
    }
    # CDF: deletes recorded for the vanished rows
    ch = table.read_changes(starting_version=table.version())
    deleted = {r.id for r in ch.filter(ch._change_type == "delete").collect()}
    assert deleted == {2, 3}


def test_merge_not_matched_by_source_conditional_update(spark, table):
    """NMBS update with a condition: only PENDING strays are flagged;
    other unmatched rows stay verbatim."""
    src = rows_df(spark, [(2, "ANY", 0.0, "d1")])  # matches id=2 only
    res = (
        table.merge(src, "target.id = source.id")
        .when_matched_update(set={"status": "'SEEN'"})
        .when_not_matched_by_source_update(
            set={"status": "'STALE'"}, condition="target.status = 'PENDING'"
        )
        .execute()
    )
    # ids 1,3 are PENDING & unmatched → STALE; id 2 matched → SEEN
    assert res["numUpdatedRows"] == 3
    assert state(table) == {
        (1, "STALE", 10.0, "d1"),
        (2, "SEEN", 20.0, "d1"),
        (3, "STALE", 30.0, "d2"),
    }


def test_merge_nmbs_only_no_matched_clauses(spark, table):
    """NMBS without matched clauses (and a multi-match source, which is
    legal here — no matched clause can fire twice): matched rows kept
    verbatim, unmatched rows deleted."""
    src = rows_df(
        spark,
        [(1, "A", 0.0, "dX"), (1, "B", 0.0, "dY")],  # two source rows hit id=1
    )
    res = (
        table.merge(src, "target.id = source.id")
        .when_not_matched_by_source_delete(condition="target.amount >= 30")
        .execute()
    )
    assert res == {"numUpdatedRows": 0, "numDeletedRows": 1, "numInsertedRows": 0}
    assert state(table) == {
        (1, "PENDING", 10.0, "d1"),
        (2, "COMPLETED", 20.0, "d1"),
    }


def test_dynamic_partition_overwrite(spark, table):
    """partitionOverwriteMode=dynamic parity: incoming data names the
    partitions to replace; untouched partitions survive verbatim."""
    table.overwrite(
        rows_df(spark, [(9, "DYN", 90.0, "d1")]), dynamic=True
    )
    # d1 fully replaced by the single new row; d2 untouched
    assert state(table) == {
        (9, "DYN", 90.0, "d1"),
        (3, "PENDING", 30.0, "d2"),
    }
    # idempotent re-run: same input → same state
    table.overwrite(rows_df(spark, [(9, "DYN", 90.0, "d1")]), dynamic=True)
    assert state(table) == {
        (9, "DYN", 90.0, "d1"),
        (3, "PENDING", 30.0, "d2"),
    }
    # unpartitioned table refuses
    import pytest as _pytest

    t2 = LogTable.create(spark, str(table.path) + "_flat", SCHEMA)
    with _pytest.raises(ValueError):
        t2.overwrite(rows_df(spark, [(1, "X", 1.0, "d1")]), dynamic=True)


def test_schema_utils_diff_ddl_infer(spark):
    from databricks_delta_lake_migration_spark.tables import (
        evolution_plan,
        schema_diff,
        schema_from_ddl,
        schema_from_json_sample,
        schema_to_ddl,
    )

    src = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    tgt = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),  # type mismatch
            T.StructField("extra", T.DateType()),
        ]
    )
    d = schema_diff(src, tgt)
    assert d["missing_in_target"] == ["tag"]
    assert d["missing_in_source"] == ["extra"]
    assert d["type_mismatches"] == [
        {"column": "v", "source_type": "double", "target_type": "string"}
    ]
    assert not d["compatible"]
    assert schema_diff(src, src)["compatible"]

    ddl = schema_to_ddl(src, comments={"v": "value"})
    assert "id BIGINT" in ddl and "COMMENT 'value'" in ddl
    assert schema_from_ddl(ddl.replace(" COMMENT 'value'", "")) == src

    inferred = schema_from_json_sample(
        spark, '{"a": 1, "b": "x", "c": [1.5]}'
    )
    assert dict((f.name, f.dataType.simpleString()) for f in inferred.fields) == {
        "a": "bigint", "b": "string", "c": "array<double>"
    }

    plan = evolution_plan(src, tgt)
    assert plan == ["ALTER TABLE {table} ADD COLUMNS (tag STRING)"]


def test_checkpoint_written_and_replay_equivalent(spark, tmp_path):
    """Every 10th commit writes a checkpoint; snapshots resolved from a
    checkpoint equal full-log replay, for current AND historical
    versions, and survive a damaged checkpoint file."""
    import glob
    import os

    from databricks_delta_lake_migration_spark.tables.logtable import LogTable as LT

    t = LogTable.create(spark, str(tmp_path / "cp"), SCHEMA)
    for i in range(12):
        t.append(rows_df(spark, [(i, "S", float(i), f"d{i % 3}")]))
    cps = glob.glob(str(tmp_path / "cp" / "_log" / "*.checkpoint"))
    assert len(cps) == 1 and "00000000000000000010" in cps[0]

    # fresh handle resolves through the checkpoint
    t2 = LT(spark, str(tmp_path / "cp"))
    assert t2.read().count() == 12
    # historical version BELOW the checkpoint still replays correctly
    assert t2.read(version=5).count() == 5
    # state equality: checkpointed vs pre-checkpoint replay of v10
    assert {r.id for r in t2.read(version=10).collect()} == set(range(10))

    # damaged checkpoint → silent fallback to full replay
    with open(cps[0], "w") as fh:
        fh.write("{corrupt")
    t3 = LT(spark, str(tmp_path / "cp"))
    assert t3.read().count() == 12


def test_merge_schema_evolution(spark, table):
    """with_schema_evolution: source carries a new column — target
    schema evolves (metadata-only), matched rows take source values,
    untouched rows surface NULL."""
    src_schema = T.StructType(
        list(SCHEMA.fields) + [T.StructField("channel", T.StringType())]
    )
    src = spark.createDataFrame(
        [(1, "EVOLVED", 11.0, "d1", "web"), (9, "NEW", 90.0, "d9", "app")],
        src_schema,
    )
    (
        table.merge(src, "target.id = source.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .with_schema_evolution()
        .execute()
    )
    got = {
        (r.id, r.status, r.channel)
        for r in table.read().select("id", "status", "channel").collect()
    }
    assert got == {
        (1, "EVOLVED", "web"),
        (2, "COMPLETED", None),
        (3, "PENDING", None),
        (9, "NEW", "app"),
    }
    assert [f.name for f in table.schema().fields][-1] == "channel"


def test_read_where_skips_files_by_stats(spark, tmp_path):
    """read(where=...) drops provably-excluded files from the scan via
    footer stats, and returns the same rows as read().filter(...)."""
    t = LogTable.create(spark, str(tmp_path / "skip"), SCHEMA)
    # three appends with disjoint id ranges → three files with
    # non-overlapping [min,max] id stats
    for lo in (0, 100, 200):
        t.append(
            rows_df(spark, [(lo + i, "S", float(i), "d1") for i in range(5)])
        )
    df = t.read(where="id >= 200")
    # file-level skipping: only the 200-range append's files reach the
    # scan (each append may produce several files; all 0-/100-range
    # files must be gone)
    n_active = len(t._replay()[0])
    scanned = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    assert len(scanned) <= n_active / 3
    assert {r.id for r in df.collect()} == {200, 201, 202, 203, 204}
    # equivalence with the unskipped path
    assert df.count() == t.read().filter("id >= 200").count()


def test_escaped_partition_values_read_and_overwrite(spark, tmp_path):
    """Partition values containing hive-escaped chars (':' → %3A on
    disk), NULLs (__HIVE_DEFAULT_PARTITION__), and booleans must round-
    trip through read(where=) pruning AND dynamic overwrite matching —
    raw path-segment comparison silently dropped/duplicated them."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts_key", T.StringType()),
            T.StructField("flag", T.BooleanType()),
        ]
    )
    t = LogTable.create(
        spark, str(tmp_path / "esc"), schema, partition_by=["ts_key"]
    )
    t.append(
        spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", True),
                (2, "2024-01-02 00:00:00", False),
                (3, None, True),
            ],
            schema,
        )
    )
    # stats/path pruning with an escaped (':') literal must NOT prune
    # the matching file
    got = {
        tuple(r)
        for r in t.read(where="ts_key = '2024-01-01 00:00:00'")
        .select("id")
        .collect()
    }
    assert got == {(1,)}
    # the NULL-partition file is prunable for equality predicates, and
    # IS NULL still reads it (conservative keep)
    assert {r[0] for r in t.read(where="ts_key IS NULL").select("id").collect()} == {3}

    # dynamic overwrite must match the escaped partition, not duplicate it
    t.overwrite(
        spark.createDataFrame([(10, "2024-01-01 00:00:00", False)], schema),
        dynamic=True,
    )
    assert {r[0] for r in t.read().select("id").collect()} == {10, 2, 3}

    # dynamic overwrite of the NULL partition replaces (not duplicates) it
    t.overwrite(spark.createDataFrame([(30, None, False)], schema), dynamic=True)
    assert {r[0] for r in t.read().select("id").collect()} == {10, 2, 30}


def test_boolean_partition_dynamic_overwrite(spark, tmp_path):
    """Boolean partition columns write as 'true'/'false' dirs; str(True)
    = 'True' never matched → duplicates instead of replacement."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ok", T.BooleanType())]
    )
    t = LogTable.create(spark, str(tmp_path / "b"), schema, partition_by=["ok"])
    t.append(spark.createDataFrame([(1, True), (2, False)], schema))
    t.overwrite(spark.createDataFrame([(9, True)], schema), dynamic=True)
    assert {tuple(r) for r in t.read().collect()} == {(9, True), (2, False)}


def test_cdf_merge_delete_with_nulls_single_change_row(spark, tmp_path):
    """A NULL-bearing row deleted by MERGE must emit exactly ONE change
    row (delete) — the old all-column anti-join derivation of
    update_preimage treated NULL != NULL as 'not a delete' and emitted a
    spurious preimage."""
    t = LogTable.create(
        spark,
        str(tmp_path / "nulls"),
        SCHEMA,
        properties={"enableChangeDataFeed": "true"},
    )
    t.append(
        rows_df(spark, [(1, None, None, "d1"), (2, "KEEP", 2.0, "d1")])
    )
    src = rows_df(spark, [(1, "X", 0.0, "d1")])
    (
        t.merge(src, "target.id = source.id")
        .when_matched_delete()
        .execute()
    )
    ch = [
        (r.id, r._change_type)
        for r in t.read_changes(starting_version=2).collect()
    ]
    assert ch == [(1, "delete")]


def test_cdf_nmbs_delete_with_nulls_single_change_row(spark, tmp_path):
    """Same NULL-preimage property for WHEN NOT MATCHED BY SOURCE."""
    t = LogTable.create(
        spark,
        str(tmp_path / "nmbs-nulls"),
        SCHEMA,
        properties={"enableChangeDataFeed": "true"},
    )
    t.append(rows_df(spark, [(1, None, None, "d1"), (2, "KEEP", 2.0, "d1")]))
    src = rows_df(spark, [(2, "KEEP", 2.0, "d1")])
    (
        t.merge(src, "target.id = source.id")
        .when_not_matched_by_source_delete()
        .execute()
    )
    ch = [
        (r.id, r._change_type)
        for r in t.read_changes(starting_version=2).collect()
    ]
    assert ch == [(1, "delete")]


def test_failed_merge_leaves_schema_untouched(spark, table):
    """Schema evolution rides in the MERGE commit atomically: a merge
    that fails (ambiguous multi-match) must not leave an ADD COLUMNS
    commit behind."""
    before = [f.name for f in table.schema().fields]
    v_before = table.history().first()["version"]
    src_schema = T.StructType(
        list(SCHEMA.fields) + [T.StructField("channel", T.StringType())]
    )
    # two source rows match target id=1 → ambiguous update → error
    src = spark.createDataFrame(
        [(1, "A", 1.0, "d1", "web"), (1, "B", 2.0, "d1", "app")], src_schema
    )
    with pytest.raises(ValueError):
        (
            table.merge(src, "target.id = source.id")
            .when_matched_update_all()
            .with_schema_evolution()
            .execute()
        )
    assert [f.name for f in table.schema().fields] == before
    assert table.history().first()["version"] == v_before


def test_connected_components_raises_on_non_convergence(spark):
    from databricks_delta_lake_migration_spark.operators.dedup import (
        connected_components,
    )

    # a 6-node chain needs ~5 rounds; cap at 1 → must raise, not return
    # a silently split component
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError):
        connected_components(pairs, max_iter=1)
    ok = connected_components(pairs, max_iter=10)
    assert {tuple(r) for r in ok.collect()} == {(i, 1) for i in range(1, 7)}


def test_maintenance_scheduler(spark, tmp_path):
    """Config-driven maintenance (reference config.py:137-162): due/not-
    due gating from the persisted last-run stamp, ZORDER vs OPTIMIZE
    dispatch, ANALYZE stats, and the stamp advancing."""
    from databricks_delta_lake_migration_spark.tables import (
        MaintenanceConfig,
        run_maintenance,
        run_maintenance_batch,
    )

    t = LogTable.create(spark, str(tmp_path / "m"), SCHEMA)
    for i in range(3):  # several small files → optimize has work
        t.append(rows_df(spark, [(i, "S", float(i), "d1")]))

    cfg = MaintenanceConfig(optimize_interval_hours=24, vacuum_retain_hours=0)
    t0 = 1_700_000_000.0
    r1 = run_maintenance(t, cfg, now_epoch=t0)
    assert not r1["skipped"]
    assert "optimize" in r1 and "analyze" in r1
    assert t.read().count() == 3

    # 1 hour later: not due
    r2 = run_maintenance(t, cfg, now_epoch=t0 + 3600)
    assert r2["skipped"]
    # 25 hours later: due again; zorder config dispatches to zorder
    zcfg = MaintenanceConfig(
        zorder_columns=("id",), optimize_interval_hours=24, vacuum_retain_hours=0
    )
    r3 = run_maintenance(t, zcfg, now_epoch=t0 + 25 * 3600)
    assert not r3["skipped"] and "zorder" in r3
    assert t.read().count() == 3

    # batch sweep over a config map
    t2 = LogTable.create(spark, str(tmp_path / "m2"), SCHEMA)
    t2.append(rows_df(spark, [(1, "S", 1.0, "d1")]))
    out = run_maintenance_batch(
        {"a": (t, cfg), "b": (t2, cfg)}, now_epoch=t0 + 26 * 3600
    )
    assert set(out) == {"a", "b"}
    assert not out["b"]["skipped"]


def test_incremental_maintenance_scopes_to_touched_partitions(spark, tmp_path):
    """incremental=True: each tick compacts ONLY partitions that
    ingested since the previous tick (commit-log derivation — the
    nightly job on a 100 TB table must not rewrite cold partitions)."""
    from databricks_delta_lake_migration_spark.tables import (
        MaintenanceConfig,
        run_maintenance,
    )

    t = LogTable.create(spark, str(tmp_path / "im"), SCHEMA, partition_by=["day"])
    for i in range(3):  # debris in d1 AND d2
        t.append(rows_df(spark, [(i, "S", 1.0, "d1"), (10 + i, "S", 1.0, "d2")]))
    cfg = MaintenanceConfig(
        optimize_interval_hours=24, vacuum_retain_hours=0, incremental=True
    )
    t0 = 1_700_000_000.0
    r1 = run_maintenance(t, cfg, now_epoch=t0)
    # first run has no prior version stamp: everything counts as touched
    assert r1["scope"] == "day IN ('d1', 'd2')"
    assert r1["optimize"]["numFilesRemoved"] > 0

    # only d2 ingests before the next tick
    for i in range(3):
        t.append(rows_df(spark, [(20 + i, "S", 1.0, "d2")]))
    d1_files = {f.path for f in t._replay()[0] if "day=d1" in f.path}
    r2 = run_maintenance(t, cfg, now_epoch=t0 + 25 * 3600)
    assert r2["scope"] == "day IN ('d2')"
    assert r2["optimize"]["numFilesRemoved"] > 0
    # d1's compacted file survived untouched
    assert d1_files <= {f.path for f in t._replay()[0]}

    # nothing ingests: next tick does no rewrite at all
    r3 = run_maintenance(t, cfg, now_epoch=t0 + 50 * 3600)
    assert r3["scope"] == "none-touched" and "optimize" not in r3
    assert t.read().count() == 9


def test_concurrent_appends_retry_loop_loses_nothing(spark, tmp_path):
    """OCC stress: N threads racing appends with a retry-on-conflict
    loop. Every append must land exactly once (no lost updates, no
    duplicate versions) — the put_if_absent commit primitive is the
    whole isolation story, so this is the format's core ACID claim."""
    import threading

    from databricks_delta_lake_migration_spark.tables.logtable import (
        ConcurrentWriteError,
    )

    t = LogTable.create(spark, str(tmp_path / "occ"), SCHEMA)
    N_THREADS, N_APPENDS = 6, 3
    errors = []

    def writer(tid: int):
        # each thread uses its own handle (own log cache = real races)
        h = LogTable(spark, str(tmp_path / "occ"))
        for i in range(N_APPENDS):
            df = rows_df(spark, [(tid * 100 + i, f"T{tid}", float(i), "d1")])
            for _ in range(40):
                try:
                    h.append(df)
                    break
                except ConcurrentWriteError:
                    continue  # replay log tail, retry
            else:
                errors.append((tid, i))

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(N_THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, f"appends exhausted retries: {errors}"
    final = LogTable(spark, str(tmp_path / "occ"))
    rows = {tuple(r) for r in final.read().select("id", "status").collect()}
    assert len(rows) == N_THREADS * N_APPENDS
    # versions are gapless and unique: create + one commit per append
    versions = [c.version for c in final.commits()]
    assert versions == list(range(N_THREADS * N_APPENDS + 1))


def test_incremental_agg_refresh_matches_recompute(spark, table, tmp_path):
    from databricks_delta_lake_migration_spark.tables.maintenance import (
        incremental_agg_refresh,
    )

    gold_schema = T.StructType(
        [
            T.StructField("status", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("total", T.DecimalType(18, 2)),
        ]
    )
    gold = LogTable.create(spark, str(tmp_path / "gold"), gold_schema)
    sums = {"total": "CAST(amount AS DECIMAL(18,2))"}

    def recompute():
        return {
            (r.status, r.n_rows, float(r.total))
            for r in table.read()
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.expr(sums["total"])).alias("total"),
            )
            .collect()
        }

    def gold_state():
        return {
            (r.status, r.n_rows, float(r.total)) for r in gold.read().collect()
        }

    r1 = incremental_agg_refresh(table, gold, ["status"], sums, "n_rows")
    assert r1["mode"] == "full" and gold_state() == recompute()

    # noop when nothing changed
    assert incremental_agg_refresh(table, gold, ["status"], sums, "n_rows")[
        "mode"
    ] == "noop"

    # inserts + update (key migration PENDING→SHIPPED) + full-key delete
    table.append(rows_df(spark, [(9, "NEW", 5.0, "d3"), (10, "NEW", 7.0, "d3")]))
    table.update("id = 1", {"status": "'SHIPPED'"})
    table.delete("status = 'COMPLETED'")  # empties the COMPLETED group
    r2 = incremental_agg_refresh(table, gold, ["status"], sums, "n_rows")
    assert r2["mode"] == "incremental"
    assert gold_state() == recompute()
    assert not any(r.status == "COMPLETED" for r in gold.read().collect())

    # a key that appears and vanishes entirely within one window never
    # lands in gold
    table.append(rows_df(spark, [(11, "GHOST", 1.0, "d3")]))
    table.delete("status = 'GHOST'")
    incremental_agg_refresh(table, gold, ["status"], sums, "n_rows")
    assert gold_state() == recompute()
    assert not any(r.status == "GHOST" for r in gold.read().collect())


def test_incremental_agg_refresh_commits_hwm_atomically(spark, table, tmp_path):
    """ADVICE r5: the HWM property must ride the SAME gold commit as
    the data change — a separate set_properties leaves a crash window
    that re-applies (double-counts) the CDF window on restart."""
    from databricks_delta_lake_migration_spark.tables.maintenance import (
        IVM_HWM_PROP,
        incremental_agg_refresh,
    )

    gold_schema = T.StructType(
        [
            T.StructField("status", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("total", T.DecimalType(18, 2)),
        ]
    )
    gold = LogTable.create(spark, str(tmp_path / "gold"), gold_schema)
    sums = {"total": "CAST(amount AS DECIMAL(18,2))"}

    v0 = gold.version()
    incremental_agg_refresh(table, gold, ["status"], sums, "n_rows")
    # full refresh = exactly ONE commit, already carrying the HWM
    assert gold.version() == v0 + 1
    assert gold.properties()[IVM_HWM_PROP] == str(table.version())

    table.append(rows_df(spark, [(9, "NEW", 5.0, "d3")]))
    v1 = gold.version()
    incremental_agg_refresh(table, gold, ["status"], sums, "n_rows")
    assert gold.version() == v1 + 1  # MERGE and HWM in one commit
    assert gold.properties()[IVM_HWM_PROP] == str(table.version())
    # simulated crash-restart right after the commit: the window must
    # NOT re-apply (this was the double-count bug)
    assert (
        incremental_agg_refresh(table, gold, ["status"], sums, "n_rows")["mode"]
        == "noop"
    )
    new_total = {
        r.status: r.n_rows for r in gold.read().collect()
    }
    assert new_total["NEW"] == 1


# ---------------------------------------------------------------------------
# Generated columns (GENERATED ALWAYS AS — delta-spark feature parity)
# ---------------------------------------------------------------------------

GEN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("bucket", T.LongType()),
    ]
)


@pytest.fixture()
def gen_table(spark, tmp_path):
    return LogTable.create(
        spark,
        str(tmp_path / "gen"),
        GEN_SCHEMA,
        generated_columns={"bucket": "CAST(amount / 10 AS BIGINT)"},
    )


def gen_state(t):
    return {(r.id, r.amount, r.bucket) for r in t.read().collect()}


def test_generated_column_computed_on_append(spark, gen_table):
    df = spark.createDataFrame([(1, 25.0), (2, 7.0)], "id long, amount double")
    gen_table.append(df)
    assert gen_state(gen_table) == {(1, 25.0, 2), (2, 7.0, 0)}


def test_generated_column_validates_explicit_values(spark, gen_table):
    from databricks_delta_lake_migration_spark.tables.logtable import (
        ConstraintViolationError,
    )

    ok = spark.createDataFrame([(1, 25.0, 2)], GEN_SCHEMA)
    gen_table.append(ok)  # correct explicit value passes
    bad = spark.createDataFrame([(2, 25.0, 99)], GEN_SCHEMA)
    with pytest.raises(ConstraintViolationError, match="gen_bucket"):
        gen_table.append(bad)
    assert gen_state(gen_table) == {(1, 25.0, 2)}


def test_generated_column_computed_on_overwrite(spark, gen_table):
    gen_table.append(spark.createDataFrame([(1, 25.0)], "id long, amount double"))
    gen_table.overwrite(spark.createDataFrame([(9, 42.0)], "id long, amount double"))
    assert gen_state(gen_table) == {(9, 42.0, 4)}


def test_generated_column_recomputed_on_update(spark, gen_table):
    gen_table.append(
        spark.createDataFrame([(1, 25.0), (2, 7.0)], "id long, amount double")
    )
    gen_table.update("id = 1", {"amount": "amount * 4"})  # 100.0 → bucket 10
    assert gen_state(gen_table) == {(1, 100.0, 10), (2, 7.0, 0)}


def test_restore_rolls_back_schema_coupled_properties(spark, gen_table):
    """ADVICE r5: RESTORE across a rename of a generated column must
    roll generated.*/identity.* back with the schema — else writes
    validate a contract against a column the restored schema lacks."""
    gen_table.append(
        spark.createDataFrame([(1, 25.0)], "id long, amount double")
    )
    v_before = gen_table.version()
    gen_table.rename_column("bucket", "decile")
    assert "generated.decile" in gen_table.properties()
    gen_table.restore(version=v_before)
    props = gen_table.properties()
    assert "generated.bucket" in props and "generated.decile" not in props
    # writes against the restored schema still compute the column
    gen_table.append(
        spark.createDataFrame([(2, 42.0)], "id long, amount double")
    )
    assert gen_state(gen_table) == {(1, 25.0, 2), (2, 42.0, 4)}


def test_generated_column_on_merge_insert_and_update(spark, gen_table):
    gen_table.append(
        spark.createDataFrame([(1, 25.0), (2, 7.0)], "id long, amount double")
    )
    src = spark.createDataFrame([(1, 31.0), (3, 55.0)], "id long, amount double")
    (
        gen_table.merge(src, "target.id = source.id")
        .when_matched_update(set={"amount": "source.amount"})
        .when_not_matched_insert_all()
        .execute()
    )
    # update recomputed bucket from the NEW amount; insert computed it
    assert gen_state(gen_table) == {(1, 31.0, 3), (2, 7.0, 0), (3, 55.0, 5)}


# ---------------------------------------------------------------------------
# Column mapping: RENAME / DROP COLUMN without data rewrite
# ---------------------------------------------------------------------------


def test_rename_column_metadata_only(spark, table):
    files_before = {f.path for f in table._replay()[0]}
    table.rename_column("amount", "value")
    assert {f.path for f in table._replay()[0]} == files_before  # no rewrite
    got = {(r.id, r.value) for r in table.read().collect()}
    assert got == {(1, 10.0), (2, 20.0), (3, 30.0)}
    assert "amount" not in table.read().columns

    # writes after the rename land under the frozen physical name and
    # read back mixed with pre-rename files
    table.append(rows_df(spark, [(4, "NEW", 40.0, "d2")]).withColumnRenamed("amount", "value"))
    assert {(r.id, r.value) for r in table.read().collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)
    }


def test_rename_column_dml_and_time_travel(spark, table):
    v_before = table.version()
    table.rename_column("amount", "value")
    table.update("value > 15", {"value": "value + 1"})
    table.delete("id = 3")
    got = {(r.id, r.value) for r in table.read().collect()}
    assert got == {(1, 10.0), (2, 21.0)}
    # time travel BEFORE the rename surfaces the old logical name?
    # schema is versioned; pre-rename snapshots read with the old schema
    old = table.read(version=v_before)
    assert "amount" in old.columns
    assert {(r.id, r.amount) for r in old.collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0)
    }


def test_rename_column_cdf_round_trip(spark, table):
    table.rename_column("amount", "value")
    table.update("id = 1", {"value": "99.0"})
    ch = table.read_changes(starting_version=table.version())
    got = {(r._change_type, r.id, r.value) for r in ch.collect()}
    assert got == {("update_preimage", 1, 10.0), ("update_postimage", 1, 99.0)}


def test_rename_column_stats_skipping_still_prunes(spark, tmp_path):
    t = LogTable.create(spark, str(tmp_path / "sk"), SCHEMA)
    for lo in (0, 100, 200):
        t.append(
            rows_df(
                spark,
                [(lo + i, "S", float(lo + i), "d1") for i in range(3)],
            ).coalesce(1)
        )
    t.rename_column("id", "key")
    files, *_ = t._replay()
    assert len(files) == 3
    conj = t._physical_conjuncts("key >= 200", t.properties())
    from databricks_delta_lake_migration_spark.tables.logtable import _stats_may_match

    kept = [f for f in files if _stats_may_match(f, conj)]
    assert len(kept) == 1  # two files pruned via the physical-name stats
    assert {r.key for r in t.read(where="key >= 200").collect()} == {200, 201, 202}


def test_rename_partition_column_and_dynamic_overwrite(spark, table):
    table.rename_column("day", "ds")
    assert table.partition_columns() == ["ds"]
    table.overwrite(
        rows_df(spark, [(9, "X", 9.0, "d1")]).withColumnRenamed("day", "ds"),
        dynamic=True,
    )
    got = {(r.id, r.ds) for r in table.read().collect()}
    assert got == {(9, "d1"), (3, "d2")}  # d1 replaced, d2 carried


def test_drop_column_and_reuse_guard(spark, table):
    table.drop_column("status")
    assert "status" not in table.read().columns
    assert {(r.id, r.amount) for r in table.read().collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0)
    }
    with pytest.raises(ValueError, match="physical"):
        table.add_columns([T.StructField("status", T.StringType())])
    # a different name is fine
    table.add_columns([T.StructField("state", T.StringType())])
    assert "state" in table.read().columns


def test_rename_blocked_by_constraint_reference(spark, tmp_path):
    t = LogTable.create(
        spark,
        str(tmp_path / "c"),
        SCHEMA,
        properties={"constraint.pos": "amount > 0"},
    )
    with pytest.raises(ValueError, match="constraint.pos"):
        t.rename_column("amount", "value")
    with pytest.raises(ValueError, match="constraint.pos"):
        t.drop_column("amount")
    t.rename_column("status", "state")  # unreferenced column renames fine


def test_rename_column_merge_pruning_and_upsert(spark, table):
    table.rename_column("amount", "value")
    src = rows_df(spark, [(2, "R", 25.0, "d1"), (9, "N", 99.0, "d3")]).withColumnRenamed(
        "amount", "value"
    )
    table.upsert(src, ["id"])
    got = {(r.id, r.status, r.value) for r in table.read().collect()}
    assert got == {
        (1, "PENDING", 10.0),
        (2, "R", 25.0),
        (3, "PENDING", 30.0),
        (9, "N", 99.0),
    }


def test_rename_column_sql_router(spark, tmp_path):
    from databricks_delta_lake_migration_spark.tables import Catalog

    c = Catalog(spark, str(tmp_path / "cat"))
    t = c.create_table("lake.s.t", SCHEMA)
    t.append(rows_df(spark, [(1, "A", 1.0, "d1")]))
    c.sql("ALTER TABLE s.t RENAME COLUMN amount TO value")
    assert "value" in c.table("s.t").read().columns
    c.sql("ALTER TABLE s.t DROP COLUMN status")
    assert "status" not in c.table("s.t").read().columns


# ---------------------------------------------------------------------------
# Identity columns (GENERATED ALWAYS AS IDENTITY)
# ---------------------------------------------------------------------------


def test_identity_column_assignment_unique_increasing(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    t = LogTable.create(
        spark,
        str(tmp_path / "ident"),
        schema,
        identity_columns={"uid": {"start": 100, "step": 5}},
    )
    t.append(spark.createDataFrame([("a",), ("b",), ("c",)], "name string"))
    first = {r.uid: r.name for r in t.read().collect()}
    assert len(first) == 3  # unique
    assert min(first) == 100  # contiguous from start
    assert all((u - 100) % 5 == 0 for u in first)  # respects step

    t.append(spark.createDataFrame([("d",), ("e",)], "name string"))
    uids = [r.uid for r in t.read().collect()]
    assert len(set(uids)) == 5  # still unique across appends
    second = {r.uid for r in t.read().collect()} - set(first)
    assert min(second) > max(first)  # increasing across appends

    # explicit values rejected (GENERATED ALWAYS)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(spark.createDataFrame([(1, "x")], schema))
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.update("name = 'a'", {"uid": "0"})
    # MERGE INSERT allocates merge-time identity (VERDICT r6 missing #2)
    res = (
        t.merge(
            spark.createDataFrame([("z",)], "name string"),
            "target.name = source.name",
        )
        .when_not_matched_insert_all()
        .execute()
    )
    assert res["numInsertedRows"] == 1
    uids = {r.name: r.uid for r in t.read().collect()}
    assert uids["z"] == max(uids.values())  # fresh id above the watermark
    assert (uids["z"] - 100) % 5 == 0  # respects step


def test_identity_column_rename_and_drop(spark, tmp_path):
    """ADVICE r5: rename must re-key identity.<old> → identity.<new>
    (else the next append allocates a phantom column and the renamed
    column null-fills); drop must pop the spec entirely."""
    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    t = LogTable.create(
        spark,
        str(tmp_path / "identr"),
        schema,
        identity_columns={"uid": {"start": 1, "step": 1}},
    )
    t.append(spark.createDataFrame([("a",), ("b",)], "name string"))
    t.rename_column("uid", "row_id")
    assert "identity.row_id" in t.properties()
    assert "identity.uid" not in t.properties()
    t.append(spark.createDataFrame([("c",)], "name string"))
    rows = {r.name: r.row_id for r in t.read().collect()}
    assert rows["c"] == 3 and None not in rows.values()  # kept allocating
    # GENERATED ALWAYS still enforced under the new name
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(
            spark.createDataFrame([(99, "x")], "row_id long, name string")
        )
    t.drop_column("row_id")
    assert not any(k.startswith("identity.") for k in t.properties())
    t.append(spark.createDataFrame([("d",)], "name string"))
    assert {r.name for r in t.read().collect()} == {"a", "b", "c", "d"}


def test_identity_survives_multi_partition_append(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("v", T.LongType()),
        ]
    )
    t = LogTable.create(
        spark,
        str(tmp_path / "identp"),
        schema,
        identity_columns={"uid": {}},
    )
    t.append(spark.range(500).select(F.col("id").alias("v")).repartition(8))
    rows = t.read().collect()
    # contiguous across partitions: exactly [1, 500], no gaps, no dups
    assert {r.uid for r in rows} == set(range(1, 501))
    t.append(spark.range(10).select(F.col("id").alias("v")))
    assert {r.uid for r in t.read().collect()} == set(range(1, 511))


def test_vacuum_collects_expired_cdf_and_staging_orphans(spark, table, tmp_path):
    import os as _os

    # age out the CDF of v0-v1 by pretending time passed: retain 0 hours
    table.update("id = 1", {"amount": "11.0"})  # writes a change dir
    table.update("id = 2", {"amount": "22.0"})  # newer change dir
    changes_root = _os.path.join(table.path, "_changes")
    n_dirs_before = len(
        [n for n in _os.listdir(changes_root) if n.startswith("v=")]
    )
    assert n_dirs_before >= 2

    # plant a crashed-write staging orphan, backdated a week
    orphan_dir = _os.path.join(table.path, "_staging", "deadbeef")
    _os.makedirs(orphan_dir)
    orphan = _os.path.join(orphan_dir, "part-000.parquet")
    open(orphan, "wb").write(b"x")
    old = 10.0
    _os.utime(orphan, (old, old))

    removed = table.vacuum(retain_hours=168.0)  # default retention
    assert any("_staging" in r for r in removed)  # orphan collected
    assert not any("_changes" in r for r in removed)  # CDF inside retention
    assert not _os.path.exists(orphan)

    removed = table.vacuum(retain_hours=0.0)
    # all non-current change dirs collected now
    assert any("_changes" in r for r in removed)
    # current data still fully readable
    assert {r.amount for r in table.read().collect()} == {11.0, 22.0, 30.0}


def test_vacuum_dry_run_matches_actual_removal(spark, table):
    table.update("id = 1", {"amount": "111.0"})
    table.optimize()
    dry = table.vacuum(retain_hours=0.0, dry_run=True)
    real = table.vacuum(retain_hours=0.0)
    assert dry == real and len(real) > 0


def test_identity_merge_update_cannot_assign(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    t = LogTable.create(
        spark, str(tmp_path / "identm"), schema, identity_columns={"uid": {}}
    )
    t.append(spark.createDataFrame([("a",), ("b",)], "name string"))
    src = spark.createDataFrame([(999, "a")], "uid long, name string")
    with pytest.raises(ValueError, match="GENERATED"):
        (
            t.merge(src, "target.name = source.name")
            .when_matched_update(set={"uid": "source.uid"})
            .execute()
        )
    with pytest.raises(ValueError, match="GENERATED"):
        (
            t.merge(src, "target.name = source.name")
            .when_matched_update_all()  # SET * with uid in the source
            .execute()
        )
    # updates NOT touching the identity column still work
    res = (
        t.merge(src.drop("uid"), "target.name = source.name")
        .when_matched_update(set={"name": "upper(source.name)"})
        .execute()
    )
    assert res["numUpdatedRows"] == 1


def test_identity_merge_time_allocation(spark, tmp_path):
    """VERDICT r6 missing #2 / next-step #4: MERGE INSERT into an
    identity dimension allocates surrogate keys at merge time —
    contiguous from the watermark, existing rows keep theirs, the
    advanced watermark commits WITH the merge."""
    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("city", T.StringType()),
        ]
    )
    t = LogTable.create(
        spark, str(tmp_path / "identdim"), schema,
        identity_columns={"uid": {"start": 1, "step": 1}},
    )
    t.append(
        spark.createDataFrame(
            [("a", "NYC"), ("b", "LA")], "name string, city string"
        )
    )
    before = {r.name: r.uid for r in t.read().collect()}
    src = spark.createDataFrame(
        [("b", "SF"), ("c", "CHI"), ("d", "BOS")], "name string, city string"
    )
    res = (
        t.merge(src, "target.name = source.name")
        .when_matched_update(set={"city": "source.city"})
        .when_not_matched_insert_all()
        .execute()
    )
    assert res == {
        "numUpdatedRows": 1, "numDeletedRows": 0, "numInsertedRows": 2
    }
    rows = {r.name: (r.uid, r.city) for r in t.read().collect()}
    # matched row kept its surrogate key through the rewrite
    assert rows["b"] == (before["b"], "SF")
    assert rows["a"] == (before["a"], "NYC")
    # inserts got fresh contiguous ids above the old watermark
    new_ids = sorted(uid for n, (uid, _) in rows.items() if n in ("c", "d"))
    assert new_ids == [max(before.values()) + 1, max(before.values()) + 2]
    # watermark advanced in the SAME commit: the next append continues
    t.append(spark.createDataFrame([("e", "SEA")], "name string, city string"))
    all_ids = [r.uid for r in t.read().collect()]
    assert sorted(all_ids) == list(range(1, 6))  # unique, gap-free
    # an insert clause may not assign the identity column
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        (
            t.merge(
                spark.createDataFrame(
                    [(99, "z", "DEN")], "uid long, name string, city string"
                ),
                "target.name = source.name",
            )
            .when_not_matched_insert_all()  # uid in source = assignment
            .execute()
        )


def test_identity_merge_cdf_matches_committed_rows(spark, tmp_path):
    """ADVICE r7: the CDF insert images for an identity-allocating
    MERGE must carry the SAME uid values as the committed table data —
    the stamped insert plan is materialized (localCheckpoint) before
    the table write, so the later CDF job cannot re-derive different
    values under a different AQE partitioning."""
    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    t = LogTable.create(
        spark, str(tmp_path / "identcdf"), schema,
        identity_columns={"uid": {"start": 1, "step": 1}},
        properties={"enableChangeDataFeed": "true"},
    )
    t.append(spark.createDataFrame([("a",), ("b",)], "name string"))
    src = spark.createDataFrame(
        [(f"n{i}",) for i in range(50)], "name string"
    )
    v_before = t.version()
    (
        t.merge(src, "target.name = source.name")
        .when_not_matched_insert_all()
        .execute()
    )
    table_ids = {
        r.name: r.uid
        for r in t.read().filter(F.col("name").startswith("n")).collect()
    }
    cdf_ids = {
        r.name: r.uid
        for r in t.read_changes(starting_version=v_before + 1)
        .filter(F.col("_change_type") == "insert")
        .collect()
    }
    assert cdf_ids == table_ids
    assert None not in cdf_ids.values()
    assert sorted(cdf_ids.values()) == list(range(3, 53))


def test_identity_merge_occ_conflict(spark, tmp_path):
    """A MERGE that allocates identity values is a metadata change
    (identity.* watermark property) — a racing identity writer
    conflicts instead of silently double-allocating."""
    from databricks_delta_lake_migration_spark.tables.logtable import (
        MetadataChangedError,
    )

    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    path = str(tmp_path / "identocc")
    t = LogTable.create(
        spark, path, schema, identity_columns={"uid": {"start": 1, "step": 1}}
    )
    t.append(spark.createDataFrame([("a",)], "name string"))
    other = LogTable(spark, path)

    class _RacyFS:
        def __init__(self, inner, interloper):
            self._inner, self._interloper, self._fired = inner, interloper, False

        def put_if_absent(self, p, text):
            if not self._fired:
                self._fired = True
                self._interloper()
            return self._inner.put_if_absent(p, text)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    t.fs = _RacyFS(
        t.fs, lambda: other.append(spark.createDataFrame([("x",)], "name string"))
    )
    with pytest.raises(MetadataChangedError):
        (
            t.merge(
                spark.createDataFrame([("z",)], "name string"),
                "target.name = source.name",
            )
            .when_not_matched_insert_all()
            .execute()
        )
    # the interloper's allocation won; no duplicate ids exist
    ids = [r.uid for r in other.read().collect()]
    assert len(ids) == len(set(ids)) == 2


# ---------------------------------------------------------------------------
# CONVERT TO DELTA: in-place adoption of an existing parquet directory
# ---------------------------------------------------------------------------


def test_convert_parquet_dir_in_place(spark, tmp_path):
    src = str(tmp_path / "plain")
    rows_df(
        spark,
        [(1, "A", 1.0, "d1"), (2, "B", 2.0, "d1"), (3, "C", 3.0, "d2")],
    ).write.partitionBy("day").parquet(src)
    import glob

    files_before = set(glob.glob(f"{src}/**/*.parquet", recursive=True))

    t = LogTable.convert(spark, src)
    # zero copy: the exact same data files, now tracked by the log
    assert {f.abspath(t.path) for f in t._replay()[0]} == files_before
    assert t.partition_columns() == ["day"]
    assert {(r.id, r.status, r.amount, r.day) for r in t.read().collect()} == {
        (1, "A", 1.0, "d1"),
        (2, "B", 2.0, "d1"),
        (3, "C", 3.0, "d2"),
    }
    # footer stats were adopted → data skipping works immediately
    assert {r.id for r in t.read(where="id >= 3").collect()} == {3}

    # the converted directory is a full table: DML + time travel
    t.update("id = 1", {"amount": "10.0"})
    t.delete("id = 2")
    assert {(r.id, r.amount) for r in t.read().collect()} == {(1, 10.0), (3, 3.0)}
    assert t.read(version=0).count() == 3

    with pytest.raises(FileExistsError):
        LogTable.convert(spark, src)  # already converted


def test_convert_sql_spelling_and_register(spark, tmp_path):
    from databricks_delta_lake_migration_spark.tables import Catalog

    src = str(tmp_path / "plain2")
    rows_df(spark, [(7, "Z", 7.0, "d1")]).write.parquet(src)
    c = Catalog(spark, str(tmp_path / "cat"))
    r = c.sql(f"CONVERT TO DELTA parquet.`{src}` AS lake.bronze.adopted")
    assert r.first()["converted"] == "True"
    assert c.read("bronze.adopted").count() == 1


def test_kitchen_sink_lifecycle_cross_feature(spark, tmp_path):
    """Cross-feature interaction sweep: a bloom-indexed, CDF- and
    DV-enabled table goes through append → MERGE → DV delete → zorder →
    restore → vacuum, asserting content, pruning, and change feed stay
    coherent at every step (single features are covered elsewhere —
    this pins the seams)."""
    from databricks_delta_lake_migration_spark.tables.logtable import BLOOM_PROP

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    t = LogTable.create(
        spark,
        str(tmp_path / "ks"),
        schema,
        properties={
            BLOOM_PROP: '["name"]',
            "enableChangeDataFeed": "true",
            "enableDeletionVectors": "true",
        },
    )

    def rows(lo, hi):
        return spark.createDataFrame(
            [(i, f"n{i:04d}", float(i)) for i in range(lo, hi)], schema
        ).coalesce(1)

    t.append(rows(0, 500))
    t.append(rows(500, 1000))
    expected = {i: float(i) for i in range(1000)}

    # MERGE doubles a slice
    src = spark.createDataFrame([(i, f"n{i:04d}", float(i) * 2) for i in range(100, 200)], schema)
    t.upsert(src, ["k"])
    for i in range(100, 200):
        expected[i] = float(i) * 2
    v_before_delete = t.version()

    # DV (merge-on-read) delete
    t.delete("k >= 900")
    for i in range(900, 1000):
        del expected[i]
    assert t.detail()["numDeletionVectorFiles"] > 0

    # zorder the DV'd, bloom-indexed table: purges DVs, rebuilds blooms
    t.zorder(["name"], n_files=4)
    assert t.detail()["numDeletionVectorFiles"] == 0
    got = {r.k: r.amount for r in t.read().collect()}
    assert got == expected
    # bloom + clustered stats both prune a point probe
    ps = t.prune_stats("name = 'n0042'")
    assert ps["files_skipped"] > 0
    assert {r.k for r in t.read(where="name = 'n0042'").collect()} == {42}

    # restore to before the DV delete: deleted rows resurface
    t.restore(version=v_before_delete)
    assert t.read().count() == 1000
    assert t.read().filter(F.col("k") == 950).count() == 1

    # CDF window over MERGE + DELETE survives the whole history
    ch = t.read_changes(starting_version=1)
    kinds = {r["_change_type"] for r in ch.select("_change_type").distinct().collect()}
    assert {"insert", "update_preimage", "update_postimage", "delete"} <= kinds

    # vacuum with zero retention: current snapshot intact, orphans gone
    removed = t.vacuum(retain_hours=0)
    assert removed  # zorder/restore left unreferenced files + sidecars
    assert t.read().count() == 1000
    final = {r.k: r.amount for r in t.read().collect()}
    assert final[150] == 300.0 and final[950] == 950.0


def test_alter_column_type_widening(spark, tmp_path):
    sch = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("score", T.FloatType()),
            T.StructField("amt", T.DecimalType(10, 2)),
        ]
    )
    t = LogTable.create(spark, str(tmp_path / "wide"), sch)
    t.append(
        spark.createDataFrame([(1, 1.5, "12.34"), (2, 2.5, "56.78")], "id int, score float, amt string")
        .withColumn("amt", F.col("amt").cast("decimal(10,2)"))
    )
    v_narrow = t.version()

    t.alter_column_type("id", T.LongType())
    t.alter_column_type("score", T.DoubleType())
    t.alter_column_type("amt", T.DecimalType(14, 4))

    # old files scan under the widened logical schema — no rewrite
    got = {r.id: (r.score, str(r.amt)) for r in t.read().collect()}
    assert got == {1: (1.5, "12.3400"), 2: (2.5, "56.7800")}
    assert dict(t.read().dtypes) == {
        "id": "bigint", "score": "double", "amt": "decimal(14,4)",
    }

    # new appends land wide; mixed narrow/wide files read together
    t.append(
        spark.createDataFrame([(3_000_000_000, 3.5, "1.0000")],
                              "id long, score double, amt string")
        .withColumn("amt", F.col("amt").cast("decimal(14,4)"))
    )
    assert t.read().count() == 3
    # rewrite paths work over mixed files
    t.update("id = 1", {"score": "score * 2"})
    assert t.read().filter("id = 1").first().score == 3.0

    # time travel shows the pre-widening schema
    assert dict(t.read(version=v_narrow).dtypes)["id"] == "int"

    # refusals: narrowing, unsupported, unknown column
    with pytest.raises(ValueError, match="not a supported type widening"):
        t.alter_column_type("id", T.IntegerType())
    with pytest.raises(ValueError, match="not a supported type widening"):
        t.alter_column_type("amt", T.DoubleType())
    with pytest.raises(ValueError, match="not a supported type widening"):
        t.alter_column_type("amt", T.DecimalType(12, 6))  # shrinks int part
    with pytest.raises(ValueError, match="no such column"):
        t.alter_column_type("nope", T.LongType())

    # identity columns keep their contract type
    t2 = LogTable.create(
        spark,
        str(tmp_path / "ident"),
        T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.IntegerType())]),
        properties={"identity.k": '{"start": 1, "step": 1}'},
    )
    with pytest.raises(ValueError, match="identity/generated"):
        t2.alter_column_type("k", T.DecimalType(22, 0))

    # data skipping still prunes with the widened predicate type
    stats = t.prune_stats("id = 2")
    assert stats["files_total"] >= 2 and stats["files_skipped"] >= 1


def test_alter_column_type_sql_spelling(spark, tmp_path):
    from databricks_delta_lake_migration_spark.tables import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.sql("CREATE TABLE acid.w (id INT, amt DECIMAL(10,2))")
    t = cat.table("acid.w")
    t.append(spark.createDataFrame([(7, None)], "id int, amt decimal(10,2)"))
    r = cat.sql("ALTER TABLE acid.w ALTER COLUMN id TYPE BIGINT")
    assert r.first()["type"] == "BIGINT"
    assert dict(t.read().dtypes)["id"] == "bigint"
    # widened column round-trips through SHOW CREATE TABLE
    stmt = cat.sql("SHOW CREATE TABLE acid.w").first()["createtab_stmt"]
    assert "`id` bigint" in stmt


def test_alter_column_type_composes_with_mapping_optimize_restore(spark, tmp_path):
    """Widening after a rename targets the logical name (mapping-aware),
    OPTIMIZE rewrites mixed narrow/wide files under the wide schema, and
    RESTORE travels back to the pre-rename pre-widening state."""
    t = LogTable.create(
        spark,
        str(tmp_path / "mix"),
        T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]),
    )
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"))
    t.rename_column("a", "a2")
    t.alter_column_type("a2", T.LongType())
    t.append(spark.createDataFrame([(5_000_000_000, "z")], "a2 long, b string"))
    want = {(1, "x"), (2, "y"), (5_000_000_000, "z")}
    assert {(r.a2, r.b) for r in t.read().collect()} == want
    t.optimize()
    assert {(r.a2, r.b) for r in t.read().collect()} == want
    t.restore(version=1)
    assert dict(t.read().dtypes) == {"a": "int", "b": "string"}
    assert {(r.a, r.b) for r in t.read().collect()} == {(1, "x"), (2, "y")}


def test_vacuum_retention_from_table_property(spark, tmp_path):
    t = LogTable.create(
        spark, str(tmp_path / "ret"),
        T.StructType([T.StructField("a", T.IntegerType())]),
        properties={"delta.deletedFileRetentionDuration": "interval 0 hours"},
    )
    t.append(spark.createDataFrame([(1,)], "a int"))
    t.overwrite(spark.createDataFrame([(2,)], "a int"))
    # property-driven retention (0 hours) → the overwritten file is
    # collectible without any RETAIN argument
    assert len(t.vacuum(dry_run=True)) >= 1
    # default (no property) keeps everything inside the 7-day window
    t2 = LogTable.create(
        spark, str(tmp_path / "ret2"),
        T.StructType([T.StructField("a", T.IntegerType())]),
    )
    t2.append(spark.createDataFrame([(1,)], "a int"))
    t2.overwrite(spark.createDataFrame([(2,)], "a int"))
    assert t2.vacuum(dry_run=True) == []
    # malformed property → conservative default, not a crash
    t2.set_properties({"delta.deletedFileRetentionDuration": "bogus"})
    assert t2.vacuum(dry_run=True) == []


def test_cluster_by_liquid_clustering(spark, tmp_path):
    from databricks_delta_lake_migration_spark.tables.logtable import (
        CLUSTERING_PROP,
        OPTWRITE_PROP,
    )

    sch = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    t = LogTable.create(
        spark,
        str(tmp_path / "liquid"),
        sch,
        cluster_by=["k"],
        properties={OPTWRITE_PROP: "true"},
    )
    assert t.cluster_columns() == ["k"]
    # cluster-on-write: an interleaved batch lands key-sorted (AQE
    # coalesces this small batch to one file — at production sizes the
    # range layout spreads across many, each covering a narrow slice)
    import pyarrow.parquet as pq

    rows = [(i % 64, f"v{i}") for i in range(4096)]
    t.append(spark.createDataFrame(rows, sch).repartition(8))
    for f in t._replay()[0]:
        ks = pq.read_table(f.abspath(t.path), columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks)
    # a bare OPTIMIZE re-clusters on the declared key (no ZORDER
    # clause): many interleaved small appends, then one OPTIMIZE
    for j in range(4):
        t.append(
            spark.createDataFrame(rows[j::4], sch).repartition(4)
        )
    # small target so this tiny fixture still yields a multi-file
    # layout to observe skipping on (default target = 128 MB → 1 file)
    res = t.optimize(target_file_bytes=16 * 1024)
    assert res["numFilesAdded"] >= 1
    after = t.prune_stats("k = 3")
    assert after["files_total"] > 1 and after["files_skipped"] >= 1
    got = [tuple(r) for r in t.read().collect()]
    assert sorted(got) == sorted(rows + rows)

    # rename migrates the clustering key; drop of it is refused
    t.rename_column("k", "key")
    assert t.cluster_columns() == ["key"]
    with pytest.raises(ValueError, match="clustering column"):
        t.drop_column("key")

    # validation at create time
    with pytest.raises(ValueError, match="not in schema"):
        LogTable.create(spark, str(tmp_path / "x1"), sch, cluster_by=["nope"])
    with pytest.raises(ValueError, match="overlap"):
        LogTable.create(
            spark, str(tmp_path / "x2"), sch,
            partition_by=["k"], cluster_by=["k"],
        )


def test_cluster_by_sql_spelling_and_show_create(spark, tmp_path):
    from databricks_delta_lake_migration_spark.tables import Catalog
    from databricks_delta_lake_migration_spark.tables.logtable import (
        CLUSTERING_PROP,
    )

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.sql(
        "CREATE TABLE acid.lc (id BIGINT, ts STRING, v DOUBLE) "
        "CLUSTER BY (id, ts) TBLPROPERTIES ('owner' = 'me')"
    )
    t = cat.table("acid.lc")
    assert t.cluster_columns() == ["id", "ts"]
    assert t.properties()["owner"] == "me"
    stmt = cat.sql("SHOW CREATE TABLE acid.lc").first()["createtab_stmt"]
    assert "CLUSTER BY (`id`, `ts`)" in stmt
    assert CLUSTERING_PROP not in stmt  # clause, not a raw property
    cat.sql(stmt.replace("lake.acid.lc", "lake.acid.lc_rt"))
    assert cat.table("acid.lc_rt").cluster_columns() == ["id", "ts"]


def test_clustered_optimize_also_compacts(spark, tmp_path):
    sch = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    t = LogTable.create(spark, str(tmp_path / "lc2"), sch, cluster_by=["k"])
    for j in range(12):
        t.append(
            spark.createDataFrame([(i % 16, f"v{i}") for i in range(j, 512, 12)], sch)
        )
    before = t.detail()["numFiles"]
    t.optimize()  # re-cluster AND bin-pack (small files, large target)
    after = t.detail()["numFiles"]
    assert after < before and after <= 2
    assert t.read().count() == sum(len(range(j, 512, 12)) for j in range(12))


def test_checkpoint_interval_property(spark, tmp_path):
    t = LogTable.create(
        spark, str(tmp_path / "ci"),
        T.StructType([T.StructField("a", T.IntegerType())]),
        properties={"delta.checkpointInterval": "3"},
    )
    for i in range(7):
        t.append(spark.createDataFrame([(i,)], "a int"))
    assert t.log.checkpoint_versions() == [3, 6]


def test_log_retention_prunes_at_checkpoint_granularity(spark, tmp_path):
    t = LogTable.create(
        spark, str(tmp_path / "lr"),
        T.StructType([T.StructField("a", T.IntegerType())]),
        properties={
            "delta.checkpointInterval": "3",
            "delta.logRetentionDuration": "interval 0 hours",
        },
    )
    for i in range(10):
        t.append(spark.createDataFrame([(i,)], "a int"))
    # zero retention: the prune at checkpoint 9 cut everything below
    # checkpoint 6 (newest is never the cut)
    versions = sorted(c.version for c in t.commits())
    assert versions[0] == 6 and versions[-1] == 10
    # current state is intact (checkpoint + tail replay)
    assert t.read().count() == 10
    assert t.version() == 10
    # time travel at/after the cut works; before it reports not-found
    assert t.read(version=7).count() == 7
    with pytest.raises(ValueError, match="not found"):
        t.read(version=2)
    # a fresh handle (no warm cache) sees the same state
    t2 = LogTable(spark, str(tmp_path / "lr"))
    assert t2.read().count() == 10
    # damaged newest checkpoint → falls back to the older kept one
    import os as _os
    cps = t.log.checkpoint_versions()
    with open(_os.path.join(t.log.dir, f"{cps[-1]:020d}.checkpoint"), "w") as fh:
        fh.write("garbage")
    t3 = LogTable(spark, str(tmp_path / "lr"))
    assert t3.read().count() == 10


def _pruning_table(spark, path):
    """v0 create + v1..v4 appends of 3 rows; checkpoints every 3
    commits and zero log retention, so each checkpoint prunes."""
    t = LogTable.create(
        spark, path,
        T.StructType([T.StructField("a", T.IntegerType())]),
        properties={
            "delta.checkpointInterval": "3",
            "delta.logRetentionDuration": "interval 0 hours",
        },
    )
    _append_batches(spark, t, 4)
    return t


def _append_batches(spark, t, n):
    for _ in range(n):
        t.append(spark.createDataFrame([(1,), (2,), (3,)], "a int"))


def _log_layout(path):
    """(commit versions, checkpoint versions) on disk."""
    names = os.listdir(os.path.join(path, "_log"))
    return (
        sorted(int(n.split(".")[0]) for n in names if n.endswith(".json")),
        sorted(int(n.split(".")[0]) for n in names if n.endswith(".checkpoint")),
    )


def test_stale_handle_sees_pruned_log_and_keeps_its_write(spark, tmp_path):
    """A handle opened before another handle's checkpoints pruned the
    log must see the new head, not its cached v4: otherwise its next
    append lands at v5, below checkpoint 12, where no snapshot reads it
    and the acknowledged rows are lost."""
    path = str(tmp_path / "stale")
    a = _pruning_table(spark, path)
    assert a.version() == 4 and a.read().count() == 12
    _append_batches(spark, LogTable(spark, path), 12)
    assert _log_layout(path) == ([12, 13, 14, 15, 16], [12, 15])
    assert a.version() == 16 and a.read().count() == 48
    _append_batches(spark, a, 1)
    assert a.version() == 17
    assert LogTable(spark, path).read().count() == 51


def test_commit_refuses_slot_emptied_by_concurrent_pruner(spark, tmp_path):
    """Another handle appends and prunes between this handle planning
    version 5 and writing it, so slot 5 is free again but lies below
    checkpoint 12: the commit must be refused (nothing left in the log)
    rather than acknowledged and lost; a retry lands on the new head."""
    from databricks_delta_lake_migration_spark.tables.fsio import FileSystem
    from databricks_delta_lake_migration_spark.tables.logtable import (
        ConcurrentWriteError,
    )

    path = str(tmp_path / "race")
    _pruning_table(spark, path)

    class PrunerFirstFS(FileSystem):
        fired = False

        def put_if_absent(self, target, text):
            if not self.fired:
                self.fired = True
                _append_batches(spark, LogTable(spark, path), 12)
            return super().put_if_absent(target, text)

    a = LogTable(spark, path, fs=PrunerFirstFS())
    assert a.version() == 4
    with pytest.raises(ConcurrentWriteError, match="pruned"):
        _append_batches(spark, a, 1)
    assert _log_layout(path) == ([12, 13, 14, 15, 16], [12, 15])
    assert LogTable(spark, path).read().count() == 48
    _append_batches(spark, a, 1)
    assert a.version() == 17
    assert LogTable(spark, path).read().count() == 51


def test_log_retention_default_keeps_everything(spark, tmp_path):
    t = LogTable.create(
        spark, str(tmp_path / "lr2"),
        T.StructType([T.StructField("a", T.IntegerType())]),
        properties={"delta.checkpointInterval": "3"},
    )
    for i in range(10):
        t.append(spark.createDataFrame([(i,)], "a int"))
    # 30-day default: nothing pruned, full history intact
    assert sorted(c.version for c in t.commits())[0] == 0
    assert t.read(version=1).count() == 1


def test_vacuum_lite_log_driven(spark, tmp_path):
    """VACUUM LITE finds collectible files from the commit log alone
    (no tree walk) — same removable set as the full walk for
    log-tracked data files; staging orphans are the documented
    full-VACUUM-only difference."""
    import os as _os

    t = LogTable.create(
        spark, str(tmp_path / "vl"),
        T.StructType([T.StructField("a", T.IntegerType())]),
    )
    t.append(spark.createDataFrame([(1,)], "a int"))
    t.overwrite(spark.createDataFrame([(2,)], "a int"))
    full = set(t.vacuum(retain_hours=0, dry_run=True))
    lit = set(t.vacuum(retain_hours=0, dry_run=True, lite=True))
    assert lit == full and len(lit) >= 1
    # plant a stale staging orphan: full sees it, LITE doesn't
    stag = _os.path.join(t.path, "_staging", "orphan.parquet")
    _os.makedirs(_os.path.dirname(stag), exist_ok=True)
    open(stag, "w").write("x")
    _os.utime(stag, (0, 0))
    assert any("orphan" in p for p in t.vacuum(retain_hours=0, dry_run=True))
    assert not any(
        "orphan" in p for p in t.vacuum(retain_hours=0, dry_run=True, lite=True)
    )
    # LITE actually deletes, and the current snapshot is untouched
    removed = t.vacuum(retain_hours=0, lite=True)
    assert removed and t.read().count() == 1


def test_user_metadata_commit_annotation(spark, table):
    # per-write annotation (Delta's .option("userMetadata", ...)): one-shot
    table.with_user_metadata("nightly backfill").append(
        rows_df(spark, [(10, "NEW", 1.0, "d3"), (11, "NEW", 2.0, "d3")])
    )
    h = {r["version"]: r["userMetadata"] for r in table.history().collect()}
    v = max(h)
    assert h[v] == "nightly backfill"
    # one-shot: the next commit is unannotated
    table.delete("id = 10")
    h = {r["version"]: r["userMetadata"] for r in table.history().collect()}
    assert h[max(h)] is None
    # session-conf spelling annotates every commit while set; the
    # per-write annotation wins when both are present
    spark.conf.set(
        "spark.databricks.delta.commitInfo.userMetadata", "audit=JIRA-42"
    )
    try:
        table.delete("id = 1")
        table.with_user_metadata("explicit wins").delete("id = 2")
    finally:
        spark.conf.unset("spark.databricks.delta.commitInfo.userMetadata")
    anns = [
        r["userMetadata"]
        for r in table.history().orderBy("version").collect()
    ]
    assert anns[-2:] == ["audit=JIRA-42", "explicit wins"]
    table.delete("id = 3")
    assert table.history().first()["userMetadata"] is None


# ---- row tracking (stable row ids + row commit versions) -------------


@pytest.fixture()
def rt_table(spark, tmp_path):
    t = LogTable.create(
        spark,
        str(tmp_path / "rt"),
        SCHEMA,
        properties={"delta.enableRowTracking": "true"},
    )
    t.append(rows_df(spark, [(1, "A", 1.0, "d1"), (2, "A", 2.0, "d1")]))
    t.append(rows_df(spark, [(3, "B", 3.0, "d2"), (4, "B", 4.0, "d2")]))
    return t


def _rt_state(t):
    return {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in t.read(row_tracking=True).collect()
    }


def test_row_tracking_fresh_ids_and_versions(spark, rt_table):
    s = _rt_state(rt_table)
    ids = [rid for rid, _ in s.values()]
    assert sorted(ids) == [1, 2, 3, 4]  # contiguous from the watermark
    assert s[1][1] == 1 and s[2][1] == 1  # first append = version 1
    assert s[3][1] == 2 and s[4][1] == 2


def test_row_tracking_survives_optimize_and_zorder(spark, rt_table):
    before = _rt_state(rt_table)
    rt_table.optimize()
    assert _rt_state(rt_table) == before  # ids AND versions stable
    rt_table.zorder(["id"], n_files=1)
    assert _rt_state(rt_table) == before


def test_row_tracking_update_delete(spark, rt_table):
    before = _rt_state(rt_table)
    rt_table.update("id = 2", {"amount": "amount + 100"})
    v_upd = rt_table.version()
    s = _rt_state(rt_table)
    assert s[2][0] == before[2][0]  # stable id
    assert s[2][1] == v_upd  # modified → new commit version
    assert s[1] == before[1] and s[3] == before[3]  # carried rows untouched
    rt_table.delete("id = 3")
    s2 = _rt_state(rt_table)
    assert 3 not in s2
    assert s2[4] == s[4]  # survivor in the rewritten file keeps both


def test_row_tracking_merge(spark, rt_table):
    before = _rt_state(rt_table)
    src = rows_df(spark, [(2, "U", 20.0, "d1"), (9, "N", 90.0, "d3")])
    rt_table.upsert(src, ["id"])
    v = rt_table.version()
    s = _rt_state(rt_table)
    assert s[2][0] == before[2][0] and s[2][1] == v  # update: stable id, new ver
    assert s[1] == before[1]  # carried row untouched
    assert s[9][1] == v  # insert stamped with the merge version
    assert s[9][0] not in {rid for rid, _ in before.values()}  # fresh id
    assert len({rid for rid, _ in s.values()}) == len(s)  # ids unique


def test_row_tracking_dv_delete_keeps_ids(spark, tmp_path):
    t = LogTable.create(
        spark,
        str(tmp_path / "rtdv"),
        SCHEMA,
        properties={
            "delta.enableRowTracking": "true",
            "enableDeletionVectors": "true",
        },
    )
    t.append(
        rows_df(
            spark,
            [(i, "A", float(i), "d1") for i in range(1, 6)],
        )
    )
    before = _rt_state(t)
    t.delete("id = 3")  # merge-on-read: no rewrite
    s = _rt_state(t)
    assert 3 not in s
    assert s == {k: v for k, v in before.items() if k != 3}


def test_row_tracking_enable_later_backfills(spark, table):
    # `table` fixture is NOT row-tracked; enabling backfills active files
    table.set_properties({"delta.enableRowTracking": "true"})
    v_enable = table.version()
    s = _rt_state(table)
    assert sorted(rid for rid, _ in s.values()) == [1, 2, 3]
    assert all(ver == v_enable for _, ver in s.values())
    # fresh appends allocate beyond the backfilled range
    table.append(rows_df(spark, [(7, "C", 7.0, "d3")]))
    s2 = _rt_state(table)
    assert s2[7][0] == 4 and s2[7][1] == table.version()


def test_row_tracking_replace_where_carries_survivors(spark, rt_table):
    before = _rt_state(rt_table)
    rt_table.overwrite(
        rows_df(spark, [(10, "A", 10.0, "d1")]), replace_where="day = 'd1'"
    )
    s = _rt_state(rt_table)
    # d2 rows carried untouched; d1 rows replaced by one fresh row
    assert s[3] == before[3] and s[4] == before[4]
    assert 1 not in s and 2 not in s
    assert s[10][0] not in {rid for rid, _ in before.values()}


def test_row_tracking_survives_log_pruning(spark, tmp_path):
    """brid/rcv live in the add entries and therefore in checkpoints —
    pruning the commit prefix must not lose or shift any row id."""
    t = LogTable.create(
        spark,
        str(tmp_path / "rtlog"),
        SCHEMA,
        properties={
            "delta.enableRowTracking": "true",
            "delta.checkpointInterval": "2",
            "delta.logRetentionDuration": "interval 0 hours",
        },
    )
    for i in range(6):
        t.append(rows_df(spark, [(i, "A", float(i), "d1")]))
    before = _rt_state(t)
    t.append(rows_df(spark, [(99, "Z", 99.0, "d1")]))  # triggers prune
    assert min(c.version for c in t.commits()) > 1  # prefix actually gone
    s = _rt_state(t)
    assert {k: v for k, v in s.items() if k != 99} == before
    assert s[99][0] == 7  # watermark continued, no reuse


def test_row_tracking_restore_reverts_row_versions(spark, rt_table):
    before = _rt_state(rt_table)
    v0 = rt_table.version()
    rt_table.update("id = 1", {"amount": "amount + 1"})
    rt_table.delete("id = 4")
    assert _rt_state(rt_table) != before
    rt_table.restore(version=v0)
    # the restored snapshot carries the target epoch's ids AND versions
    assert _rt_state(rt_table) == before
    # the watermark never rewinds: new rows allocate past the old range
    rt_table.append(rows_df(spark, [(8, "C", 8.0, "d3")]))
    s = _rt_state(rt_table)
    assert s[8][0] > max(rid for rid, _ in before.values())


def test_fsck_repair_missing_sidecar_drops_entry(spark, tmp_path):
    """A data file whose DV sidecar vanished must be dropped too —
    resurrecting DV'd (deleted) rows would be an un-delete."""
    t = LogTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        properties={"enableDeletionVectors": "true"},
    )
    t.append(rows_df(spark, [(1, "a", 1.0, "d1"), (2, "b", 2.0, "d1")]))
    t.append(rows_df(spark, [(3, "c", 3.0, "d1")]))
    t.delete("id = 1")  # DV path: tombstone, no rewrite
    entries = t._replay()[0]
    dv_entry = next(f for f in entries if f.dv)
    import shutil

    shutil.rmtree(os.path.join(t.path, dv_entry.dv[0]))

    rep = t.fsck_repair(dry_run=True)
    assert rep["removed"] == [dv_entry.path]
    # dry run changed nothing
    assert len(t._replay()[0]) == len(entries)
    rep = t.fsck_repair()
    assert rep["numFilesRemoved"] == 1
    # the dropped file held only the DV-tombstoned row 1, so the
    # visible row set is unchanged — and reads no longer depend on
    # the vanished sidecar
    assert not any(f.dv for f in t._replay()[0])
    assert {r.id for r in t.read().collect()} == {2, 3}


def test_generate_manifest_excluded_from_vacuum(spark, tmp_path):
    """Manifests live under the table root but VACUUM must not
    collect them (it only collects parquet/bloom debris)."""
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(rows_df(spark, [(1, "a", 1.0, "d1")]))
    manifests = t.generate_manifest()
    assert manifests and all(os.path.exists(m) for m in manifests)
    t.vacuum(retain_hours=0.0)
    assert all(os.path.exists(m) for m in manifests)


def test_fsck_repair_distributed_probe_path(spark, tmp_path):
    """The executor-side stat fan-out (threshold forced to 0) finds
    the same dead entries as the driver loop."""
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(3):
        t.append(rows_df(spark, [(i, "a", float(i), "d1")]))
    victim = sorted(f.path for f in t._replay()[0])[1]
    os.remove(os.path.join(t.path, victim))
    rep = t.fsck_repair(dry_run=True, distribute_threshold=0)
    assert rep["removed"] == [victim]
    rep = t.fsck_repair(distribute_threshold=0)
    assert rep["numFilesRemoved"] == 1
    assert t.read().count() == 2


def test_in_commit_timestamps_monotonic_under_clock_skew(
    spark, tmp_path, monkeypatch
):
    """A backwards clock step between commits must not produce a
    non-monotonic history: commit timestamps live IN the commit record
    and clamp to predecessor + 1ms (Delta's inCommitTimestamp rule),
    so TIMESTAMP AS OF keeps resolving to the right version."""
    import time as real_time

    from databricks_delta_lake_migration_spark.tables import logtable as lt

    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    t = lt.LogTable.create(spark, path, df1.schema)
    t.append(df1)

    t0 = t.commits()[-1].timestamp
    # clock jumps BACKWARDS by an hour before the next commit
    monkeypatch.setattr(lt.time, "time", lambda: t0 - 3600.0)
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    monkeypatch.setattr(lt.time, "time", real_time.time)

    cs = t.commits()
    assert [c.version for c in cs] == [0, 1, 2]  # create, append, append
    assert cs[2].timestamp > cs[1].timestamp  # clamped, not skewed
    assert cs[2].timestamp == cs[1].timestamp + 0.001
    # timestamp travel: just-before-v2 resolves to v1, at-v2 sees both
    assert t.read(timestamp=cs[2].timestamp - 0.0005).count() == 1
    assert t.read(timestamp=cs[2].timestamp).count() == 2
