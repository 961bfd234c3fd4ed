"""Log table as a streaming SOURCE (the ``readStream.format("delta")``
analog — Delta streaming source semantics via Spark 4's Python Data
Source API): version-granular offsets, checkpointed resume streams only
NEW commits, OPTIMIZE rewrites are skipped (dataChange=false), data-
changing commits raise unless ignoreChanges, partition values are
re-injected from hive paths, and column mapping / late-added columns
resolve to the logical schema."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_delta_lake_migration_spark.streaming import read_table_stream
from databricks_delta_lake_migration_spark.tables import LogTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _drain(spark, df, ck):
    got = []

    def sink(bdf, bid):
        got.extend(tuple(r) for r in bdf.collect())

    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return got


def test_stream_source_incremental_resume(spark, tmp_path):
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(spark.createDataFrame([(i, float(i)) for i in range(5)], SCHEMA))

    ck = str(tmp_path / "ck")
    got1 = _drain(spark, read_table_stream(spark, t.path), ck)
    assert sorted(got1) == [(i, float(i)) for i in range(5)]

    # new commits land; the SAME checkpoint resumes and sees ONLY them
    t.append(spark.createDataFrame([(9, 9.0)], SCHEMA))
    t.append(spark.createDataFrame([(10, 10.0)], SCHEMA))
    got2 = _drain(spark, read_table_stream(spark, t.path), ck)
    assert sorted(got2) == [(9, 9.0), (10, 10.0)]

    # idle table: nothing re-delivers
    assert _drain(spark, read_table_stream(spark, t.path), ck) == []


def test_stream_source_skips_optimize_raises_on_update(spark, tmp_path):
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(3):
        t.append(spark.createDataFrame([(i, float(i))], SCHEMA))
    t.optimize()  # rewrite-only: dataChange=false analog

    got = _drain(
        spark, read_table_stream(spark, t.path), str(tmp_path / "ck1")
    )
    assert sorted(got) == [(i, float(i)) for i in range(3)]  # no doubles

    t.update("id = 1", {"v": "v + 100"})
    with pytest.raises(Exception, match="data-changing commit"):
        _drain(
            spark, read_table_stream(spark, t.path), str(tmp_path / "ck2")
        )

    # ignoreChanges: the rewritten file re-delivers (documented caveat)
    got = _drain(
        spark,
        read_table_stream(spark, t.path, ignoreChanges=True),
        str(tmp_path / "ck3"),
    )
    assert (1, 101.0) in got


def test_stream_source_starting_version(spark, tmp_path):
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(spark.createDataFrame([(1, 1.0)], SCHEMA))  # v1
    t.append(spark.createDataFrame([(2, 2.0)], SCHEMA))  # v2
    got = _drain(
        spark,
        read_table_stream(spark, t.path, startingVersion=2),
        str(tmp_path / "ck"),
    )
    assert got == [(2, 2.0)]


def test_stream_source_partition_values_and_column_mapping(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("region", T.StringType()),
            T.StructField("day", T.DateType()),
        ]
    )
    t = LogTable.create(
        spark, str(tmp_path / "t"), schema, partition_by=["region", "day"]
    )
    import datetime

    rows = [
        (1, "eu", datetime.date(2024, 1, 1)),
        (2, "us", datetime.date(2024, 1, 2)),
    ]
    t.append(spark.createDataFrame(rows, schema))
    t.rename_column("id", "entity_id")  # column mapping kicks in
    t.append(
        spark.createDataFrame(
            [(3, "ap", datetime.date(2024, 1, 3))],
            "entity_id long, region string, day date",
        )
    )

    got = _drain(
        spark, read_table_stream(spark, t.path), str(tmp_path / "ck")
    )
    assert sorted(got) == [
        (1, "eu", datetime.date(2024, 1, 1)),
        (2, "us", datetime.date(2024, 1, 2)),
        (3, "ap", datetime.date(2024, 1, 3)),
    ]


def test_stream_source_late_added_column_yields_nulls(spark, tmp_path):
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(spark.createDataFrame([(1, 1.0)], SCHEMA))
    t.add_columns(T.StructType([T.StructField("tag", T.StringType())]))
    t.append(
        spark.createDataFrame(
            [(2, 2.0, "x")], "id long, v double, tag string"
        )
    )
    got = _drain(
        spark, read_table_stream(spark, t.path), str(tmp_path / "ck")
    )
    assert sorted(got, key=lambda r: r[0]) == [(1, 1.0, None), (2, 2.0, "x")]


def test_stream_source_change_feed(spark, tmp_path):
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.set_properties({"enableChangeDataFeed": "true"})
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], SCHEMA))
    t.update("id = 1", {"v": "v + 10"})
    t.delete("id = 2")

    ck = str(tmp_path / "ck")
    got = _drain(
        spark,
        read_table_stream(spark, t.path, readChangeFeed=True),
        ck,
    )
    # (id, v, change_type, commit_version)
    ev = sorted((r[0], r[1], r[2], r[3]) for r in got)
    assert ev == sorted(
        [
            (1, 1.0, "insert", 2),
            (1, 1.0, "update_preimage", 3),
            (1, 11.0, "update_postimage", 3),
            (2, 2.0, "insert", 2),
            (2, 2.0, "delete", 4),
        ]
    )

    # resume: only NEW changes re-deliver
    t.update("id = 1", {"v": "v * 2"})
    got2 = _drain(
        spark,
        read_table_stream(spark, t.path, readChangeFeed=True),
        ck,
    )
    assert sorted((r[0], r[1], r[2]) for r in got2) == [
        (1, 11.0, "update_preimage"),
        (1, 22.0, "update_postimage"),
    ]

    # CDF off -> loud refusal
    t2 = LogTable.create(spark, str(tmp_path / "t2"), SCHEMA)
    t2.append(spark.createDataFrame([(1, 1.0)], SCHEMA))
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        _drain(
            spark,
            read_table_stream(spark, t2.path, readChangeFeed=True),
            str(tmp_path / "ck2"),
        )


def test_plainlog_state_matches_logtable_across_ddl(spark, tmp_path):
    """The streaming source plans from the Spark-free log reader
    (CommitLog) with no SparkSession; it must agree with LogTable's
    own replay for schema and properties across every property-bearing
    DDL shape (merge vs replace semantics), or the source would plan
    against a stale schema/mapping."""
    import json

    from databricks_delta_lake_migration_spark.tables.log import CommitLog

    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(spark.createDataFrame([(1, 1.0)], SCHEMA))
    t.set_properties({"enableChangeDataFeed": "true", "k": "v"})
    t.add_columns(T.StructType([T.StructField("tag", T.StringType())]))
    t.rename_column("v", "val")        # props REPLACE op + mapping
    t.unset_properties(["k"])          # props REPLACE op
    t.update("id = 1", {"val": "val + 1"})

    _, schema_json, _, props, _ = CommitLog(t.path).snapshot()
    assert T.StructType.fromJson(json.loads(schema_json)) == t.schema()
    assert props == t.properties()


def test_stream_source_raises_on_pruned_history(spark, tmp_path):
    """Log retention pruned commits the stream still needs: silently
    skipping them would be data loss, so the source must fail like
    Delta's earliest-available-version error until the caller restarts
    from a newer startingVersion."""
    import os
    import time

    t = LogTable.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        properties={
            "delta.checkpointInterval": "2",
            "delta.logRetentionDuration": "interval 0 hours",
        },
    )
    for i in range(8):
        t.append(spark.createDataFrame([(i, float(i))], SCHEMA))
    # age the log artificially so retention can prune below the
    # second-newest checkpoint
    log_dir = os.path.join(t.path, "_log")
    old = time.time() - 86400 * 40
    for n in os.listdir(log_dir):
        os.utime(os.path.join(log_dir, n), (old, old))
    t.append(spark.createDataFrame([(100, 1.0)], SCHEMA))
    from databricks_delta_lake_migration_spark.tables.log import CommitLog

    vs = CommitLog(t.path).versions()
    assert vs[0] > 0, "log prefix should have been pruned"

    with pytest.raises(Exception, match="pruned"):
        _drain(
            spark, read_table_stream(spark, t.path), str(tmp_path / "ck")
        )
    # restarting at the earliest surviving version works
    got = _drain(
        spark,
        read_table_stream(spark, t.path, startingVersion=vs[0]),
        str(tmp_path / "ck2"),
    )
    assert len(got) > 0


def test_stream_cdf_raises_on_vacuumed_change_dir(spark, tmp_path):
    """A lagging CDC consumer whose needed _changes/v=N dir was
    garbage-collected must get a loud error, not a silent gap: the
    non-CDF path raises on pruned history, and the CDF path must
    treat a vacuumed change dir for a data-mutating commit the same
    way (ADVICE r5, medium)."""
    import shutil

    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.set_properties({"enableChangeDataFeed": "true"})
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], SCHEMA))  # v2
    t.update("id = 1", {"v": "v + 10"})                            # v3

    # simulate VACUUM past retention: v3's change files are gone but
    # its commit JSON remains
    shutil.rmtree(os.path.join(t.path, "_changes", f"v={3:020d}"))

    with pytest.raises(Exception, match="vacuumed past retention"):
        _drain(
            spark,
            read_table_stream(spark, t.path, readChangeFeed=True),
            str(tmp_path / "ck"),
        )


def test_stream_cdf_pre_enablement_commits_do_not_raise(spark, tmp_path):
    """Commits written BEFORE CDF was enabled legitimately carry no
    change files — the loss detector must fold the property per
    version, not retroactively demand change files for old appends."""
    t = LogTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(spark.createDataFrame([(1, 1.0)], SCHEMA))           # v1: pre-CDF
    t.set_properties({"enableChangeDataFeed": "true"})            # v2
    t.update("id = 1", {"v": "v + 10"})                           # v3

    got = _drain(
        spark,
        read_table_stream(spark, t.path, readChangeFeed=True),
        str(tmp_path / "ck"),
    )
    # only v3's mutations stream; v1's pre-enablement append is not an
    # error and not emitted
    assert sorted((r[0], r[1], r[2]) for r in got) == [
        (1, 1.0, "update_preimage"),
        (1, 11.0, "update_postimage"),
    ]
