"""Self-tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import decimal
import json
import os
import statistics

import pytest
from harness import Harness, Tracer, require
from oracles import canonical_hash
from stats import (
    covered, disk_bytes, median, percentile, quartiles, self_time, space_amp,
    union_length, write_amp,
)

from databricks_delta_lake_migration_spark.tables import LogTable
from databricks_delta_lake_migration_spark.tables.logtable import LOG_DIR, Commit, FileEntry


def test_union_length_merges_overlaps_and_nesting():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1), (1, 2)]) == 3  # touching
    assert union_length([(3, 3), (4, 2)]) == 0  # empty and inverted


def test_covered_clips_to_the_span():
    assert covered(0, 10, [(-5, 2), (8, 20)]) == 4
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_child_coverage_once():
    # children (1,3) and (2,5) overlap: together they cover 4; (8,12) adds 2
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4
    assert self_time(0, 10, []) == 10


def test_median_and_quartiles_follow_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    assert median(xs) == 3.5
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)
    with pytest.raises(ValueError):
        median([])


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert percentile(xs, 50) == 5
    assert percentile(xs, 90) == 9
    assert percentile(xs, 100) == 10
    assert percentile([3.0], 90) == 3.0


def _hand_built_table(root: str) -> list[Commit]:
    """v0 create, v1 append a (100 B), v2 append b (300 B), v3 a MERGE
    that rewrites a as c (150 B), v4 a delete tombstoning b (DV)."""
    os.makedirs(os.path.join(root, LOG_DIR))
    for name, size in (("a", 100), ("b", 300), ("c", 150)):
        with open(os.path.join(root, f"{name}.parquet"), "wb") as f:
            f.write(b"x" * size)
    commits = [
        Commit(0, 1.0, "CREATE TABLE", schema_json='{"type":"struct","fields":[]}', partition_by=[]),
        Commit(1, 2.0, "WRITE", add=[FileEntry("a.parquet", 10, 100)]),
        Commit(2, 3.0, "WRITE", add=[FileEntry("b.parquet", 30, 300)]),
        Commit(3, 4.0, "MERGE", add=[FileEntry("c.parquet", 10, 150)], remove=["a.parquet"]),
        Commit(4, 5.0, "DELETE", dvs={"b.parquet": ["dv1.bin"]}),
    ]
    for c in commits:
        with open(os.path.join(root, LOG_DIR, f"{c.version:020d}.json"), "w") as f:
            json.dump(c.to_json(), f)
    return commits


def test_write_amp_on_a_hand_built_log(tmp_path):
    root = str(tmp_path / "t")
    _hand_built_table(root)
    commits = LogTable(None, root).commits()
    # inserts: 100 + 300; the MERGE rewrite adds 150 more
    assert write_amp(commits) == pytest.approx(550 / 400)
    with pytest.raises(ValueError):
        write_amp(commits[3:])


def test_space_amp_on_a_hand_built_log(tmp_path):
    root = str(tmp_path / "t")
    _hand_built_table(root)
    live = LogTable(None, root).detail()["sizeInBytes"]
    assert live == 450  # b and c; a was removed but is still on disk
    disk = disk_bytes(root)
    logs = sum(os.path.getsize(os.path.join(root, LOG_DIR, n))
               for n in os.listdir(os.path.join(root, LOG_DIR)))
    assert disk == 100 + 300 + 150 + logs
    assert space_amp(disk, live) == disk / 450


def test_canonical_hash_ignores_row_and_column_order_and_number_type():
    a = canonical_hash(["x", "y"], [(1, "p"), (2.5, "q")])
    b = canonical_hash(["y", "x"], [("q", decimal.Decimal("2.5")), ("p", 1.0)])
    assert a == b
    assert a != canonical_hash(["x", "y"], [(1, "p"), (2.6, "q")])
    assert canonical_hash(["x"], [(float("nan"),)]) == canonical_hash(["x"], [(None,)])


def test_tracer_records_parent_links_only_when_enabled():
    t = Tracer(enabled=True)
    with t.span("op"):
        with t.span("build"):
            pass
    assert [s.name for s in t.spans] == ["op", "build"]
    assert t.spans[1].parent == 0 and t.spans[0].parent is None
    assert t.spans[0].start <= t.spans[1].start <= t.spans[1].end <= t.spans[0].end
    off = Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_harness_counts_raised_and_failed_checks_and_sums_passes():
    h = Harness(spark=None, trace=False)
    h.pass_no = -1
    assert h.op("warm", "write", lambda: 1) == 1
    h.pass_no = 0
    assert h.op("ok", "read", lambda: 2, lambda out: require(out == 2, "two")) == 2
    assert h.op("bad_check", "read", lambda: 3, lambda out: require(out == 2, "two")) is None
    assert h.op("raises", "write", lambda: 1 / 0) is None
    assert (h.attempted, h.failed) == (4, 2)
    assert [r.ok for r in h.records] == [True, True, False, False]
    assert set(h.pass_walls()) == {0}
    assert set(h.pass_walls(warmup=True)) == {-1, 0}
    assert h.pass_walls()[0] == pytest.approx(sum(r.wall for r in h.records[1:]))
