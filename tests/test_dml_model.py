"""Randomized DML-program model test: apply an arbitrary sequence of
append / update / delete / upsert / restore / optimize operations to a
LogTable AND to a plain Python dict model, then assert the table's
current state matches the model — and that time travel reproduces the
model's state as recorded after EVERY intermediate commit. This is the
whole-format serializability check the per-operation suites can't see
(cross-operation interactions, restore-of-restore, post-restore DML).
"""

from __future__ import annotations

import pytest

import tempfile

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_delta_lake_migration_spark.tables import LogTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount", T.LongType()),
    ]
)

_op = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 4)),
    st.tuples(st.just("update"), st.integers(0, 50)),
    st.tuples(st.just("delete"), st.integers(0, 50)),
    st.tuples(st.just("upsert"), st.integers(1, 4)),
    st.tuples(st.just("restore"), st.integers(0, 100)),
    st.tuples(st.just("optimize"), st.just(0)),
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, s, a) for i, (s, a) in rows.items()], SCHEMA
    )


@settings(max_examples=6, deadline=None)
@given(st.lists(_op, min_size=2, max_size=8))
@pytest.mark.slow
def test_random_dml_program_matches_model(spark, ops):
    path = tempfile.mkdtemp(prefix="dmlmodel-") + "/t"
    t = LogTable.create(spark, path, SCHEMA)
    model: dict[int, tuple[str, int]] = {}
    next_id = 0
    history: dict[int, dict] = {t.version(): dict(model)}

    for kind, arg in ops:
        if kind == "append":
            batch = {next_id + i: ("NEW", (next_id + i) * 7 % 100) for i in range(arg)}
            next_id += arg
            t.append(_df(spark, batch))
            model.update(batch)
        elif kind == "update":
            t.update(f"amount < {arg}", {"status": "'LOW'"})
            model = {
                i: (("LOW", a) if a < arg else (s, a)) for i, (s, a) in model.items()
            }
        elif kind == "delete":
            t.delete(f"amount > {arg}")
            model = {i: (s, a) for i, (s, a) in model.items() if not a > arg}
        elif kind == "upsert":
            # half existing keys (mutated), half brand new
            existing = sorted(model)[:arg]
            batch = {i: ("UPS", model[i][1] + 1) for i in existing}
            batch.update(
                {next_id + i: ("UPS", (next_id + i) * 3 % 100) for i in range(arg)}
            )
            next_id += arg
            t.upsert(_df(spark, batch), ["id"])
            model.update(batch)
        elif kind == "restore":
            versions = sorted(history)
            target = versions[arg % len(versions)]
            t.restore(version=target)
            model = dict(history[target])
        else:  # optimize — content-neutral physical rewrite
            t.optimize()
        history[t.version()] = dict(model)

    def state(df):
        return {r.id: (r.status, r.amount) for r in df.collect()}

    assert state(t.read()) == model
    # time travel reproduces the model at every recorded commit
    for v, snap in history.items():
        assert state(t.read(version=v)) == snap, f"version {v} drifted"
    # and the physical row count never hides duplicates
    assert t.read().count() == len(model)


_ddl_op = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 4)),
    st.tuples(st.just("update"), st.integers(0, 50)),
    st.tuples(st.just("delete"), st.integers(0, 50)),
    st.tuples(st.just("rename"), st.just(0)),
    st.tuples(st.just("widen"), st.just(0)),
    st.tuples(st.just("restore"), st.integers(0, 100)),
    st.tuples(st.just("optimize"), st.just(0)),
)

# strictly-widening chain for the value column (each step is a legal
# ALTER COLUMN TYPE; equal types are refused, so widen is a no-op at
# the end of the chain)
_WIDEN_CHAIN = ["long", "decimal(22,0)", "decimal(24,0)", "decimal(28,0)"]


@settings(max_examples=5, deadline=None)
@given(st.lists(_ddl_op, min_size=2, max_size=8))
@pytest.mark.slow
def test_random_ddl_dml_program_matches_model(spark, ops):
    """Column-mapping + type-widening serializability: RENAME COLUMN
    and ALTER COLUMN TYPE interleaved with an arbitrary DML program
    must never change any row's VALUES, and time travel must reproduce
    each version under the schema (name AND type) it had then."""
    path = tempfile.mkdtemp(prefix="ddlmodel-") + "/t"
    t = LogTable.create(spark, path, SCHEMA)
    model: dict[int, tuple[str, int]] = {}
    next_id = 0
    val_col = "amount"
    type_idx = 0
    other = {"amount": "amt", "amt": "amount"}
    history: dict[int, tuple[dict, str, int]] = {
        t.version(): (dict(model), val_col, type_idx)
    }

    for kind, arg in ops:
        if kind == "append":
            batch = {next_id + i: ("NEW", (next_id + i) * 7 % 100) for i in range(arg)}
            next_id += arg
            df = spark.createDataFrame(
                [(i, s, a) for i, (s, a) in batch.items()],
                f"id long, status string, {val_col} long",
            )
            t.append(df)
            model.update(batch)
        elif kind == "update":
            t.update(f"{val_col} < {arg}", {"status": "'LOW'"})
            model = {
                i: (("LOW", a) if a < arg else (s, a)) for i, (s, a) in model.items()
            }
        elif kind == "delete":
            t.delete(f"{val_col} > {arg}")
            model = {i: (s, a) for i, (s, a) in model.items() if not a > arg}
        elif kind == "rename":
            t.rename_column(val_col, other[val_col])
            val_col = other[val_col]
        elif kind == "widen":
            if type_idx + 1 < len(_WIDEN_CHAIN):
                t.alter_column_type(
                    val_col,
                    T._parse_datatype_string(_WIDEN_CHAIN[type_idx + 1]),
                )
                type_idx += 1
        elif kind == "restore":
            versions = sorted(history)
            target = versions[arg % len(versions)]
            t.restore(version=target)
            model, val_col, type_idx = (
                dict(history[target][0]),
                history[target][1],
                history[target][2],
            )
        else:
            t.optimize()
        history[t.version()] = (dict(model), val_col, type_idx)

    got = {r["id"]: (r["status"], int(r[val_col])) for r in t.read().collect()}
    assert got == model
    assert dict(t.read().dtypes)[val_col] == {
        "long": "bigint"
    }.get(_WIDEN_CHAIN[type_idx], _WIDEN_CHAIN[type_idx])
    for v, (snap, col, ti) in history.items():
        tv = t.read(version=v)
        old = {r["id"]: (r["status"], int(r[col])) for r in tv.collect()}
        assert old == snap, f"version {v} drifted"
        assert dict(tv.dtypes)[col] == {"long": "bigint"}.get(
            _WIDEN_CHAIN[ti], _WIDEN_CHAIN[ti]
        ), f"version {v} type drifted"


_rt_op = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 4)),
    st.tuples(st.just("update"), st.integers(0, 50)),
    st.tuples(st.just("delete"), st.integers(0, 50)),
    st.tuples(st.just("upsert"), st.integers(1, 4)),
    st.tuples(st.just("restore"), st.integers(0, 100)),
    st.tuples(st.just("optimize"), st.just(0)),
    st.tuples(st.just("zorder"), st.just(0)),
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_rt_op, min_size=2, max_size=8))
@pytest.mark.slow
def test_random_rt_program_tracks_rows(spark, ops):
    """Row-tracking serializability: under an arbitrary DML program,
    every live row's (_row_id, _row_commit_version) pair must follow
    the contract — ids are unique and never recycled, pure rewrites
    (OPTIMIZE / ZORDER) change neither, modifications keep the id and
    advance the version to exactly the modifying commit, inserts mint
    ids never seen before, and RESTORE reproduces the target epoch's
    pairs byte-for-byte."""
    path = tempfile.mkdtemp(prefix="rtmodel-") + "/t"
    t = LogTable.create(
        spark, path, SCHEMA, properties={"delta.enableRowTracking": "true"}
    )
    # model: key -> (status, amount, row_id, row_commit_version);
    # row_id None = assigned by the engine, learned after the op
    model: dict[int, list] = {}
    seen_ids: set[int] = set()
    next_id = 0
    history = {t.version(): {k: tuple(v) for k, v in model.items()}}

    def actual():
        return {
            r.id: (r.status, r.amount, r._row_id, r._row_commit_version)
            for r in t.read(row_tracking=True).collect()
        }

    def learn_and_check():
        v = t.version()
        act = actual()
        assert set(act) == set(model)
        ids = [a[2] for a in act.values()]
        assert len(ids) == len(set(ids)), "duplicate row ids"
        for k, (s, a, rid, ver) in model.items():
            st_, am_, rid_, ver_ = act[k]
            assert (st_, am_) == (s, a), f"content drift key {k}"
            if rid is None:  # engine-assigned: must be brand new
                assert rid_ not in seen_ids, f"recycled id {rid_}"
                model[k][2] = rid_
                model[k][3] = ver_
                assert ver_ == v, f"fresh row {k} stamped {ver_} != {v}"
            else:
                assert rid_ == rid, f"row {k} id moved {rid}->{rid_}"
                assert ver_ == ver, f"row {k} ver moved {ver}->{ver_}"
        seen_ids.update(a[2] for a in act.values())
        history[v] = {k: tuple(v2) for k, v2 in model.items()}

    for kind, arg in ops:
        v_next = t.version() + 1
        if kind == "append":
            batch = {next_id + i: ("NEW", (next_id + i) * 7 % 100) for i in range(arg)}
            next_id += arg
            t.append(_df(spark, batch))
            for k, (s, a) in batch.items():
                model[k] = [s, a, None, None]
        elif kind == "update":
            t.update(f"amount < {arg}", {"status": "'LOW'"})
            for k, row in model.items():
                if row[1] < arg:
                    row[0] = "LOW"
                    row[3] = t.version()
        elif kind == "delete":
            t.delete(f"amount > {arg}")
            model = {k: r for k, r in model.items() if not r[1] > arg}
        elif kind == "upsert":
            existing = sorted(model)[:arg]
            batch = {i: ("UPS", model[i][1] + 1) for i in existing}
            batch.update(
                {next_id + i: ("UPS", (next_id + i) * 3 % 100) for i in range(arg)}
            )
            next_id += arg
            t.upsert(_df(spark, batch), ["id"])
            for k, (s, a) in batch.items():
                if k in model:
                    model[k][0], model[k][1] = s, a
                    model[k][3] = t.version()
                else:
                    model[k] = [s, a, None, None]
        elif kind == "restore":
            versions = sorted(history)
            target = versions[arg % len(versions)]
            t.restore(version=target)
            model = {k: list(v) for k, v in history[target].items()}
        elif kind == "optimize":
            t.optimize()
        else:
            t.zorder(["amount"], n_files=1)
        learn_and_check()

    # time travel reproduces the full tracked state at every commit
    for v, snap in history.items():
        tt = {
            r.id: (r.status, r.amount, r._row_id, r._row_commit_version)
            for r in t.read(version=v, row_tracking=True).collect()
        }
        assert tt == snap, f"version {v} drifted"


# ---- differential DML against DuckDB and a NULL-aware merge model -------
#
# Default lane, deterministic: fixed-seed tables with NULLs in the key and
# in every predicate column, built in-process, on a plain and on a
# deletion-vector table. UPDATE, DELETE and replaceWhere run the same SQL
# predicate on DuckDB (replaceWhere as DELETE ... WHERE p then INSERT);
# DuckDB 1.0 has no MERGE INTO, so MERGE is checked against a Python model
# in which a NULL key never matches. Both tests together run in about
# 30 s on a 4-core host and are bounded at 60 s.

import random

import duckdb

_DIFF_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("day", T.StringType()),
        T.StructField("amount", T.LongType()),
        T.StructField("note", T.StringType()),
    ]
)


def _null_rows(seed: int, n: int, first_id: int = 0) -> list[tuple]:
    rng = random.Random(seed)
    return [
        (
            None if rng.random() < 0.15 else first_id + i,
            rng.choice(["d1", "d2", "d3", None]),
            None if rng.random() < 0.2 else rng.randint(0, 100),
            rng.choice(["a", None]),
        )
        for i in range(n)
    ]


def _diff_table(spark, dv: bool, rows: list[tuple]) -> LogTable:
    t = LogTable.create(
        spark,
        tempfile.mkdtemp(prefix="dmldiff-") + "/t",
        _DIFF_SCHEMA,
        properties={"enableDeletionVectors": "true"} if dv else None,
    )
    # several files, so rewrites touch some files and carry their rows
    t.append(spark.createDataFrame(rows, _DIFF_SCHEMA).repartition(4))
    return t


def _bag(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.mark.parametrize("dv", [False, True], ids=["plain", "dv"])
def test_dml_matches_duckdb_with_nulls(spark, dv):
    rows = _null_rows(7, 60)
    t = _diff_table(spark, dv, rows)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, day VARCHAR, amount BIGINT, note VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    replacement = [(1000 + i, "d2", 10 * i, "r") for i in range(3)]

    program = [
        ("update", "amount < 30", {"note": "'u1'", "amount": "amount + 1"}),
        ("delete", "day = 'd1' OR amount > 90", None),
        ("replace", "day = 'd2'", replacement),
        ("update", "id > 20 AND day <> 'd3'", {"day": "'d3'"}),
        ("delete", "amount IS NULL AND id < 30", None),
        ("replace", "amount >= 50", []),
        ("delete", "NOT (amount > 40)", None),
    ]
    for kind, pred, arg in program:
        if kind == "update":
            t.update(pred, arg)
            sets = ", ".join(f"{c} = {e}" for c, e in arg.items())
            con.execute(f"UPDATE t SET {sets} WHERE {pred}")
        elif kind == "delete":
            t.delete(pred)
            con.execute(f"DELETE FROM t WHERE {pred}")
        else:
            t.overwrite(spark.createDataFrame(arg, _DIFF_SCHEMA), replace_where=pred)
            con.execute(f"DELETE FROM t WHERE {pred}")
            if arg:
                con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", arg)
        want = _bag(con.execute("SELECT id, day, amount, note FROM t").fetchall())
        got = _bag(t.read().select("id", "day", "amount", "note").collect())
        assert got == want, f"{kind} {pred!r} diverged from DuckDB"


def _merge_model(target, source, by_source_pred):
    """Upsert with a by-source delete: a target row matches a source row
    only on equal non-NULL ids; unmatched target rows are deleted where
    ``by_source_pred`` is TRUE (a NULL predicate keeps the row)."""
    src = {r[0]: r for r in source if r[0] is not None}
    out = []
    for r in target:
        if r[0] is not None and r[0] in src:
            out.append(src[r[0]])
        elif by_source_pred(r) is not True:
            out.append(r)
    matched = {r[0] for r in target if r[0] is not None}
    out += [r for r in source if r[0] is None or r[0] not in matched]
    return out


@pytest.mark.parametrize("dv", [False, True], ids=["plain", "dv"])
def test_merge_matches_null_key_model(spark, dv):
    """The MERGE follows a DELETE, so on the DV table its touched files
    carry tombstones: the rows the MERGE sees are the live ones."""
    rows = _null_rows(11, 40)
    t = _diff_table(spark, dv, rows)
    t.delete("amount < 20")
    rows = [r for r in rows if r[2] is None or r[2] >= 20]
    # half the source keys hit existing ids, the rest are new or NULL
    source = [(r[0], "d9", 1, "m") for r in rows[::4]] + _null_rows(12, 8, first_id=500)
    seen = set()
    source = [r for r in source if r[0] is None or not (r[0] in seen or seen.add(r[0]))]
    (
        t.merge(spark.createDataFrame(source, _DIFF_SCHEMA), "target.id = source.id")
        .when_matched_update_all()
        .when_not_matched_by_source_delete(condition="target.amount > 60")
        .when_not_matched_insert_all()
        .execute()
    )

    def amount_gt_60(r):
        return None if r[2] is None else r[2] > 60

    want = _bag(_merge_model(rows, source, amount_gt_60))
    assert _bag(t.read().select("id", "day", "amount", "note").collect()) == want


def test_merge_ambiguous_source_raises_on_dv_table(spark):
    """Two source rows matching one target row raise, also when the
    touched file carries a deletion vector."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = LogTable.create(
        spark,
        tempfile.mkdtemp(prefix="dmldv-") + "/t",
        schema,
        properties={"enableDeletionVectors": "true"},
    )
    t.append(spark.createDataFrame([(i, "a") for i in range(1, 6)], schema).coalesce(1))
    t.delete("id = 3")
    assert [len(f.dv or []) for f in t._replay().files] == [1]
    v = t.version()
    source = spark.createDataFrame([(1, "b"), (1, "c")], schema)
    with pytest.raises(ValueError, match="multiple source rows matched"):
        t.upsert(source, ["id"])
    assert t.version() == v
    assert t.upsert(spark.createDataFrame([(1, "b")], schema), ["id"])["numUpdatedRows"] == 1
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "b"), (2, "a"), (4, "a"), (5, "a")
    ]
