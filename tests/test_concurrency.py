"""Optimistic concurrency control: Delta-style conflict resolution.

The reference gets multi-writer safety from delta-spark's transaction
protocol (conflict detection documented for
``/root/reference/notebooks/04_acid_operations.py``'s MERGE/UPDATE
workloads); our log format implements the same WriteSerializable
matrix: blind appends commute and rebase onto a new head, disjoint
file rewrites compose, overlapping rewrites raise
``ConcurrentDeleteError``, and metadata changes raise
``MetadataChangedError``.

The deterministic tests inject a competing committer at a chosen point
of the losing operation, so every conflict branch is exercised without
sleeps or flaky timing. A race can land anywhere between the snapshot
an operation reads and its commit: inside ``put_if_absent`` (the
commit attempt itself) or earlier, while it scans and writes data
(``_race`` below wraps a step of that window). Each operation commits
at the version after the one it read, so a commit that lands anywhere
in the window is checked against it.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_delta_lake_migration_spark.tables.logtable import (
    ConcurrentDeleteError,
    ConcurrentWriteError,
    LogTable,
    MetadataChangedError,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("part", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def _rows(spark, ids, part="a", val=1.0):
    # one file per append: conflict tests below reason about file overlap
    return spark.createDataFrame(
        [(i, part, val) for i in ids], SCHEMA
    ).coalesce(1)


class _RacyFS:
    """Delegating FS wrapper that runs ``interloper()`` once, right
    before the first commit attempt — a deterministic lost race."""

    def __init__(self, inner, interloper):
        self._inner = inner
        self._interloper = interloper
        self._fired = False

    def put_if_absent(self, path, text):
        if not self._fired:
            self._fired = True
            self._interloper()
        return self._inner.put_if_absent(path, text)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _race(t, step, interloper):
    """Run ``interloper`` once, the first time ``t`` calls its method
    ``step`` — after the operation read its snapshot, before it commits
    (every step wrapped below runs inside that window)."""
    inner = getattr(t, step)
    fired = []

    def wrapped(*args, **kwargs):
        if not fired:
            fired.append(True)
            interloper()
        return inner(*args, **kwargs)

    setattr(t, step, wrapped)


def _make(spark, tmp_path, name="t", partition_by=None):
    path = str(tmp_path / name)
    t = LogTable.create(spark, path, SCHEMA, partition_by=partition_by)
    return t, path


def test_append_rebases_over_concurrent_append(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, [1, 2]))
    other = LogTable(spark, path)
    t.fs = _RacyFS(t.fs, lambda: other.append(_rows(spark, [100])))
    t.append(_rows(spark, [3, 4]))  # loses the race at v2, lands at v3
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 4, 100]
    assert t.version() == 3
    ops = [c.operation for c in t.commits()]
    assert ops == ["CREATE TABLE", "WRITE", "WRITE", "WRITE"]


def test_append_rebases_over_concurrent_delete(spark, tmp_path):
    # blind append commutes with a rewrite (WriteSerializable)
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, [1, 2, 3]))
    other = LogTable(spark, path)
    t.fs = _RacyFS(t.fs, lambda: other.delete("id = 2"))
    t.append(_rows(spark, [4]))
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 4]


def test_disjoint_rewrites_compose(spark, tmp_path):
    # UPDATE on partition a vs concurrent UPDATE on partition b:
    # remove-sets are disjoint files, so the loser rebases and both land.
    t, path = _make(spark, tmp_path, partition_by=["part"])
    t.append(_rows(spark, [1], part="a"))
    t.append(_rows(spark, [2], part="b"))
    other = LogTable(spark, path)
    t.fs = _RacyFS(
        t.fs, lambda: other.update("part = 'b'", {"val": "9.0"})
    )
    t.update("part = 'a'", {"val": "5.0"})
    got = {r.part: r.val for r in t.read().collect()}
    assert got == {"a": 5.0, "b": 9.0}


def test_overlapping_rewrites_conflict(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, [1, 2, 3]))
    other = LogTable(spark, path)
    t.fs = _RacyFS(t.fs, lambda: other.update("id = 1", {"val": "9.0"}))
    with pytest.raises(ConcurrentDeleteError):
        t.update("id = 3", {"val": "5.0"})  # same single file rewritten
    # the winner's update survives untouched
    assert {r.id: r.val for r in t.read().collect()}[1] == 9.0


def test_concurrent_metadata_change_conflicts(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, [1]))
    other = LogTable(spark, path)
    t.fs = _RacyFS(
        t.fs,
        lambda: other.add_columns([T.StructField("extra", T.StringType())]),
    )
    with pytest.raises(MetadataChangedError):
        t.append(_rows(spark, [2]))


def test_losing_metadata_change_conflicts(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, [1]))
    other = LogTable(spark, path)
    t.fs = _RacyFS(t.fs, lambda: other.append(_rows(spark, [2])))
    with pytest.raises(MetadataChangedError):
        t.add_columns([T.StructField("extra", T.StringType())])


def test_commit_tx_gives_up_after_repeated_races(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, [1]))
    other = LogTable(spark, path)

    class _AlwaysLosingFS(_RacyFS):
        def put_if_absent(self, path, text):
            other.append(_rows(spark, [99]))  # steal every version
            return self._inner.put_if_absent(path, text)

    t.fs = _AlwaysLosingFS(t.fs, lambda: None)
    # the contract under test is the GIVING UP (bounded retries +
    # consistent table), not the production retry budget: 3 lost races
    # exercise the same loop as the default 15 at 1/5 the wall time
    # (each lost race pays a full stealing append + replay)
    t._commit_tx = lambda commit, snap: LogTable._commit_tx(
        t, commit, snap, attempts=3
    )
    with pytest.raises(ConcurrentWriteError):
        t.append(_rows(spark, [2]), )
    # table stays consistent: only the winners' commits are visible
    fresh = LogTable(spark, path)
    assert fresh.version() == len(fresh.commits()) - 1


def test_threaded_appends_all_land(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    n, errs = 6, []
    barrier = threading.Barrier(n)

    def work(i):
        try:
            barrier.wait()
            LogTable(spark, path).append(_rows(spark, [i]))
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert sorted(r.id for r in t.read().collect()) == list(range(n))
    assert t.version() == n  # contiguous versions, no gaps


def test_cdf_version_follows_rebase(spark, tmp_path):
    # the CDF files must be stamped with the version the commit LANDED
    # at, not the version it first proposed.
    t, path = _make(spark, tmp_path)
    t.set_properties({"enableChangeDataFeed": "true"})
    t.append(_rows(spark, [1]))
    other = LogTable(spark, path)
    t.fs = _RacyFS(t.fs, lambda: other.append(_rows(spark, [50])))
    t.append(_rows(spark, [2]))  # proposed v3, lands v4... (v2 stolen)
    landed = t.version()
    cdf = t.read_changes(starting_version=landed).filter(
        F.col("_change_type") == "insert"
    )
    got = {(r.id, r._commit_version) for r in cdf.collect()}
    assert (2, landed) in got


def test_racing_copy_into_same_source_conflicts_not_duplicates(spark, tmp_path):
    """Two COPY INTOs of the same landing dir racing: the loser must
    raise ConcurrentTransactionError (rebasing would double-load the
    winner's files) and a re-run then loads nothing."""
    from databricks_delta_lake_migration_spark.tables.logtable import (
        ConcurrentTransactionError,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    src = str(tmp_path / "land")
    spark.createDataFrame([(i, f"v{i}") for i in range(5)], schema).coalesce(
        1
    ).write.parquet(src)
    t1 = LogTable.create(spark, str(tmp_path / "t"), schema)
    t2 = LogTable(spark, t1.path)

    orig = LogTable._commit
    fired = {"done": False}

    def racing(self, commit, props):
        if not fired["done"] and commit.operation == "COPY INTO":
            fired["done"] = True
            t2.copy_into(src)  # the winner lands first
        return orig(self, commit, props)

    LogTable._commit = racing
    try:
        with pytest.raises(ConcurrentTransactionError, match="COPY INTO"):
            t1.copy_into(src)
    finally:
        LogTable._commit = orig
    # no duplicates; the loser's re-run is a clean no-op
    assert t1.read().count() == 5
    assert t1.copy_into(src)["numLoadedFiles"] == 0


# ---- races inside the read-to-commit window --------------------------


def _one_file_table(spark, tmp_path, props=None):
    t, path = _make(spark, tmp_path)
    if props:
        t.set_properties(props)
    t.append(_rows(spark, [1, 2, 3]))  # one file holds all three rows
    return t, LogTable(spark, path)


def _upsert_id3(t, spark):
    return t.upsert(_rows(spark, [3], val=5.0), ["id"])


@pytest.mark.parametrize(
    "props, step, op",
    [
        (None, "_write_files", lambda t, s: t.update("id = 3", {"val": "5.0"})),
        (None, "_write_files", lambda t, s: t.delete("id = 3")),
        ({"enableDeletionVectors": "true"}, "_read_entries", lambda t, s: t.delete("id = 3")),
        (None, "_write_files", _upsert_id3),
    ],
    ids=["update", "cow_delete", "dv_delete", "upsert"],
)
def test_rewrite_racing_rewrite_of_same_file_conflicts(spark, tmp_path, props, step, op):
    """Another handle rewrites the file (UPDATE of id 1) after the op
    read its snapshot and before it commits: the op must refuse, and
    the table holds exactly the winner's rows."""
    t, other = _one_file_table(spark, tmp_path, props)
    _race(t, step, lambda: other.update("id = 1", {"val": "9.0"}))
    with pytest.raises(ConcurrentDeleteError):
        op(t, spark)
    got = sorted((r.id, r.val) for r in LogTable(spark, t.path).read().collect())
    assert got == [(1, 9.0), (2, 1.0), (3, 1.0)]


def test_optimize_racing_delete_conflicts(spark, tmp_path):
    """OPTIMIZE reads two files, a DELETE rewrites one of them before
    the compaction commits: committing would bring the deleted row back."""
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, [1, 2]))
    t.append(_rows(spark, [3]))
    other = LogTable(spark, path)
    _race(t, "_write_files", lambda: other.delete("id = 1"))
    with pytest.raises(ConcurrentDeleteError):
        t.optimize()
    assert sorted(r.id for r in LogTable(spark, path).read().collect()) == [2, 3]


def test_add_columns_racing_add_columns_conflicts(spark, tmp_path):
    """Both handles read the same schema; committing the loser's schema
    would drop the winner's column."""
    t, path = _make(spark, tmp_path)
    other = LogTable(spark, path)
    _race(
        t,
        "_guard_new_columns",
        lambda: other.add_columns([T.StructField("a", T.StringType())]),
    )
    with pytest.raises(MetadataChangedError):
        t.add_columns([T.StructField("b", T.StringType())])
    names = [f.name for f in LogTable(spark, path).schema().fields]
    assert names == ["id", "part", "val", "a"]


def test_append_racing_add_constraint_conflicts(spark, tmp_path):
    """A CHECK constraint (what ADD CONSTRAINT commits) lands after the
    append read its snapshot: the append was checked against the old
    constraint set, so it must not commit."""
    t, path = _make(spark, tmp_path)
    other = LogTable(spark, path)
    _race(t, "_write_files", lambda: other.set_properties({"constraint.pos": "id > 0"}))
    with pytest.raises(MetadataChangedError):
        t.append(_rows(spark, [-1]))
    assert LogTable(spark, path).read().count() == 0


def test_append_racing_append_in_window_rebases(spark, tmp_path):
    t, path = _make(spark, tmp_path)
    t.append(_rows(spark, [1]))
    other = LogTable(spark, path)
    _race(t, "_write_files", lambda: other.append(_rows(spark, [100])))
    t.append(_rows(spark, [2]))
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 100]
    assert [c.operation for c in t.commits()][-2:] == ["WRITE", "WRITE"]


def test_update_racing_disjoint_partition_update_rebases(spark, tmp_path):
    t, path = _make(spark, tmp_path, partition_by=["part"])
    t.append(_rows(spark, [1], part="a"))
    t.append(_rows(spark, [2], part="b"))
    other = LogTable(spark, path)
    _race(t, "_write_files", lambda: other.update("part = 'b'", {"val": "9.0"}))
    t.update("part = 'a'", {"val": "5.0"})
    assert {r.part: r.val for r in t.read().collect()} == {"a": 5.0, "b": 9.0}


def test_stream_batch_rebases_unless_same_batch_won(spark, tmp_path):
    """A micro-batch append commits against the snapshot it read and
    rebases over a racing append; a racing commit of the same stream
    batch (a replayed batch) is refused instead of loaded twice."""
    from databricks_delta_lake_migration_spark.streaming.ingest import _append_batch
    from databricks_delta_lake_migration_spark.tables.logtable import (
        ConcurrentTransactionError,
    )

    t, path = _make(spark, tmp_path)
    other = LogTable(spark, path)
    _race(t, "_write_files", lambda: other.append(_rows(spark, [100])))
    _append_batch(t, _rows(spark, [1]), "s", 0)
    _race(t, "_write_files", lambda: _append_batch(other, _rows(spark, [2]), "s", 1))
    with pytest.raises(ConcurrentTransactionError):
        _append_batch(t, _rows(spark, [2]), "s", 1)
    assert sorted(r.id for r in LogTable(spark, path).read().collect()) == [1, 2, 100]
