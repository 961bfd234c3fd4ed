"""Composed medallion pipeline semantics: full DAG run, daily re-run
idempotency via replaceWhere, and two-snapshot SCD2 state (SURVEY §3.1;
reference notebooks 01→02→03)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_delta_lake_migration_spark.plans.medallion import MedallionPipeline
from databricks_delta_lake_migration_spark.queries import load_table
from databricks_delta_lake_migration_spark.tables import LogTable

SF_DIR = "/root/testdata/sf0.001"
T1 = "2024-03-01 00:00:00"
T2 = "2024-03-02 00:00:00"


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("medallion"))
    pipe = MedallionPipeline(spark, root)
    gold = pipe.run_full(
        load_table(spark, SF_DIR, "events"),
        load_table(spark, SF_DIR, "orders"),
        load_table(spark, SF_DIR, "customer"),
        T1,
    )
    return pipe, gold


@pytest.fixture(scope="module")
def first_run_jobs(spark, tmp_path_factory, job_ids):
    """Spark job ids of a first run of silver transactions and of the
    gold products on a fresh root, plus those of a one-job marker run
    just before and just after the gold products."""
    pipe = MedallionPipeline(spark, str(tmp_path_factory.mktemp("medallion_jobs")))
    pipe.run_bronze(load_table(spark, SF_DIR, "events"), T1)
    pipe.run_silver()
    pipe.run_bronze_transactions(load_table(spark, SF_DIR, "orders"), T1)
    jobs = {"silver_tx": job_ids(pipe.run_silver_transactions)}
    pipe.run_silver_users(load_table(spark, SF_DIR, "customer"), T1)

    def marker():
        spark.sparkContext.parallelize([0], 1).count()

    jobs["marker_before"] = job_ids(marker)
    jobs["gold_products"] = job_ids(pipe.run_gold_products)
    jobs["marker_after"] = job_ids(marker)
    return jobs


def _snap(t: LogTable):
    df = t.read()
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_full_dag_produces_five_gold_products(spark, pipeline):
    _, gold = pipeline
    assert set(gold) == {
        "gold_daily_user_activity",
        "gold_transaction_analytics",
        "gold_user_ltv",
        "gold_cohort_analysis",
        "gold_daily_kpis",
    }
    for name, t in gold.items():
        assert t.read().count() > 0, name
    # every fixture customer appears exactly once in LTV (current dim)
    n_customers = load_table(spark, SF_DIR, "customer").count()
    assert gold["gold_user_ltv"].read().count() == n_customers


def test_silver_and_gold_rerun_idempotent(spark, pipeline):
    """Re-running silver transactions + gold products with the same
    batch replaces (replaceWhere on the batch's date range) instead of
    duplicating — state and row counts identical."""
    pipe, gold = pipeline
    before = {name: _snap(t) for name, t in gold.items()}
    pipe.run_silver_transactions()
    gold2 = pipe.run_gold_products()
    after = {name: _snap(t) for name, t in gold2.items()}
    assert before == after


def test_scd2_two_run_state(spark, pipeline):
    """Snapshot 2 changes a subset of users: changed keys close and
    reopen, unchanged keys keep exactly one open row; a third identical
    snapshot is a no-op."""
    pipe, _ = pipeline
    users_t = LogTable(spark, pipe._table("silver_users"))
    snap1 = load_table(spark, SF_DIR, "customer")
    n_users = snap1.count()
    assert users_t.read().count() == n_users

    snap2 = snap1.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    pipe.run_silver_users(snap2, T2)
    users = users_t.read()
    n_changed = snap1.filter(F.col("c_custkey") % 10 == 0).count()
    open_rows = users.filter(F.col("is_current"))
    closed_rows = users.filter(~F.col("is_current"))
    assert open_rows.count() == n_users
    assert closed_rows.count() == n_changed
    # closed rows carry the end date of the closing snapshot
    assert (
        closed_rows.filter(
            F.col("effective_end_date") == F.lit(T2).cast("timestamp")
        ).count()
        == n_changed
    )
    # changed users' open row has the NEW balance
    changed_open = open_rows.filter(F.col("user_id") % 10 == 0)
    orig = {
        r["c_custkey"]: r["c_acctbal"]
        for r in snap1.filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_acctbal")
        .collect()
    }
    for r in changed_open.select("user_id", "acctbal").collect():
        assert abs(r["acctbal"] - (orig[r["user_id"]] + 100)) < 1e-9

    # idempotent third run with the same snapshot: nothing changes
    pipe.run_silver_users(snap2, "2024-03-03 00:00:00")
    assert users_t.read().filter(~F.col("is_current")).count() == n_changed
    assert users_t.read().count() == n_users + n_changed


def test_gold_wave_jobs_run_under_callers_job_group(first_run_jobs):
    """The concurrent product writes inherit the caller's job group:
    every job between the two markers is counted in it."""
    (before,), (after,) = first_run_jobs["marker_before"], first_run_jobs["marker_after"]
    assert first_run_jobs["gold_products"] == list(range(before + 1, after))


# Upper bounds on the Spark jobs of a first run on the sf0.001 fixture,
# measured at 2 (silver_tx) and 19 (gold_products) jobs, the same on
# every run. Each date-keyed product is computed by its write job
# alone; a bounds query or a separate replaceWhere check adds jobs and
# fails here.
SILVER_TX_MAX_JOBS = 2
GOLD_PRODUCTS_MAX_JOBS = 19


def test_single_pass_job_counts(first_run_jobs):
    assert len(first_run_jobs["silver_tx"]) <= SILVER_TX_MAX_JOBS
    assert len(first_run_jobs["gold_products"]) <= GOLD_PRODUCTS_MAX_JOBS


def test_gold_wave_failure_keeps_other_products(spark, pipeline, monkeypatch):
    """One product's failed write does not stop the others from
    committing; the failure reaches the caller."""
    pipe, gold = pipeline

    def version(name: str) -> int:
        return LogTable(spark, pipe._table(name)).version()

    before = {name: version(name) for name in gold}
    overwrite = LogTable.overwrite

    def failing(self, df, **kw):
        if self.path.endswith("gold_cohort_analysis"):
            raise RuntimeError("injected write failure")
        return overwrite(self, df, **kw)

    monkeypatch.setattr(LogTable, "overwrite", failing)
    with pytest.raises(RuntimeError, match="injected write failure"):
        pipe.run_gold_products()
    after = {name: version(name) for name in gold}
    assert after == {
        name: v + (name != "gold_cohort_analysis") for name, v in before.items()
    }
