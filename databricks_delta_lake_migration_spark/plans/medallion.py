"""Medallion (bronze → silver → gold) pipeline over log tables.

Parity target: the reference's three-notebook DAG
(``/root/reference/notebooks/01_bronze_ingestion.py`` →
``02_silver_transformation.py`` → ``03_gold_aggregation.py``,
orchestrated by ``infrastructure/main.tf:254-329``). Here each layer
is a composable stage function; the runner is plain Python (the
Databricks-job orchestration is infrastructure, not data semantics).

Determinism upgrades over the reference (SURVEY §7.4 item 2):
- the ingestion clock is injected, never ``current_timestamp()``
- dedup is latest-wins ``row_number``, never ``dropDuplicates``
- the row hash canonicalizes with explicit timestamp formatting,
  never ``to_json(struct(...))`` map-ordering

Scale notes: bronze appends are partitioned by ingestion_date and
silver/gold by event_date, so daily re-runs prune to one partition
and ``replaceWhere`` keeps them idempotent; every aggregate is a
single groupBy (map-side partial agg); the only shuffles are the
silver dedup window and the gold groupBy, both keyed on high-
cardinality columns (no skew). Each silver and gold product is
computed once: the write job itself observes the replaced date range
(``overwrite(replace_range=…)``), so there is no separate bounds or
validation pass. The five gold products are independent tables and
are written concurrently, one thread each; Spark's scheduler runs
their jobs side by side on the free cores.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..tables import LogTable

EVENT_CATEGORIES = {
    "purchase": "CONVERSION",
    "signup": "CONVERSION",
    "click": "ENGAGEMENT",
    "view": "ENGAGEMENT",
    "error": "ERROR",
}
VALID_EVENT_TYPES = sorted(EVENT_CATEGORIES)

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"  # fixed-width → cross-engine stable


def stamp_ingestion_metadata(df: DataFrame, ingestion_ts: str) -> DataFrame:
    """Bronze metadata stamping (01_bronze_ingestion.py:56-62):
    ingestion timestamp/date (injected clock), source file, sha2 row
    hash over a canonical serialization."""
    return (
        df.withColumn("ingestion_timestamp", F.lit(ingestion_ts).cast("timestamp"))
        .withColumn("ingestion_date", F.to_date(F.lit(ingestion_ts)))
        .withColumn(
            "source_file",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        )
        .withColumn(
            "data_hash",
            F.sha2(
                F.concat_ws(
                    "|",
                    F.col("event_id").cast("string"),
                    F.date_format("ts", TS_FMT),
                    F.col("user_id").cast("string"),
                    F.col("event_type"),
                    F.format_string("%.6f", F.col("value")),
                ),
                256,
            ),
        )
    )


def cleanse_events(bronze: DataFrame) -> DataFrame:
    """Silver cleanse (02_silver_transformation.py:153-184):
    deterministic dedup, derived date/hour columns, category mapping,
    validity filter, JSON property extraction."""
    w = Window.partitionBy("event_id").orderBy(
        F.col("ingestion_timestamp").desc(), F.col("data_hash").desc()
    )
    cat = F.lit(None).cast("string")
    mapping = F.create_map(
        *[F.lit(x) for kv in EVENT_CATEGORIES.items() for x in kv]
    )
    return (
        bronze.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("event_date", F.to_date("ts"))
        .withColumn("event_hour", F.hour("ts").cast("bigint"))
        .withColumn(
            "event_category", F.coalesce(mapping[F.col("event_type")], F.lit("OTHER"))
        )
        .withColumn("prop_k", F.get_json_object("props", "$.k").cast("bigint"))
        .withColumn(
            "is_valid",
            F.col("event_type").isin(VALID_EVENT_TYPES)
            & F.col("value").isNotNull()
            & (F.col("value") >= 0)
            & F.col("user_id").isNotNull(),
        )
        .filter(F.col("is_valid"))
        .drop("is_valid")
    )


def daily_user_activity(silver: DataFrame) -> DataFrame:
    """Gold product (03_gold_aggregation.py:52-91): per-day-per-user
    activity rollup; collect_set sorted for determinism."""
    return silver.groupBy("event_date", "user_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum(F.when(F.col("event_category") == "CONVERSION", 1).otherwise(0)).alias(
            "conversion_events"
        ),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "error_events"
        ),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_value"),
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("active_sec"),
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
            "event_types"
        ),
        F.max("prop_k").alias("max_prop_k"),
    )


def stamp_generic(df: DataFrame, ingestion_ts: str, key_cols: list[str]) -> DataFrame:
    """Bronze stamping for arbitrary tables (01_bronze_ingestion.py:56-62
    generalized): injected clock + source file + canonical sha2 hash
    over the business columns."""
    return (
        df.withColumn("ingestion_timestamp", F.lit(ingestion_ts).cast("timestamp"))
        .withColumn("ingestion_date", F.to_date(F.lit(ingestion_ts)))
        .withColumn(
            "source_file",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        )
        .withColumn(
            "data_hash",
            F.sha2(
                F.concat_ws(
                    "|",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("∅"))
                        for c in key_cols
                    ],
                ),
                256,
            ),
        )
    )


def cleanse_transactions(bronze: DataFrame) -> DataFrame:
    """Silver transactions (02_silver_transformation.py:212-261 mapped
    onto the ``orders`` fixture): null/validity filters, deterministic
    dedup, derived date, amount category, fulfillment flag."""
    w = Window.partitionBy("transaction_id").orderBy(
        F.col("ingestion_timestamp").desc(), F.col("data_hash").desc()
    )
    return (
        bronze.select(
            F.col("o_orderkey").alias("transaction_id"),
            F.col("o_custkey").alias("user_id"),
            F.to_date("o_orderdate").alias("order_date"),
            F.col("o_totalprice").alias("amount"),
            F.upper(F.trim(F.col("o_orderstatus"))).alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "ingestion_timestamp",
            "data_hash",
        )
        .filter(
            F.col("transaction_id").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("amount") > 0)
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "ingestion_timestamp", "data_hash")
        .withColumn(
            "amount_category",
            F.when(F.col("amount") < 50000, "SMALL")
            .when(F.col("amount") < 150000, "MEDIUM")
            .when(F.col("amount") < 300000, "LARGE")
            .otherwise("ENTERPRISE"),
        )
        .withColumn("is_fulfilled", F.col("status") == "F")
    )


def cleanse_users(snapshot: DataFrame) -> DataFrame:
    """Silver users business columns (02_silver_transformation.py:289-316
    mapped onto the ``customer`` fixture): trim/normalize + premium
    flag. SCD2 bookkeeping is added by the upsert, not here."""
    return (
        snapshot.select(
            F.col("c_custkey").alias("user_id"),
            F.trim(F.col("c_name")).alias("name"),
            F.upper(F.trim(F.col("c_mktsegment"))).alias("segment"),
            F.col("c_nationkey").alias("nation_key"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .filter(F.col("user_id").isNotNull())
        .withColumn("is_premium", F.col("acctbal") > 5000)
    )


def transaction_analytics(silver_tx: DataFrame) -> DataFrame:
    """Gold daily transaction analytics (03_gold_aggregation.py:100-149)."""
    return silver_tx.groupBy("order_date").agg(
        F.count(F.lit(1)).alias("n_tx"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("amount").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("revenue"),
        F.round(
            F.sum(
                F.when(F.col("is_fulfilled"), F.col("amount"))
                .otherwise(F.lit(0.0))
                .cast("decimal(18,4)")
            ),
            4,
        )
        .cast("double")
        .alias("fulfilled_revenue"),
        F.sum(F.when(F.col("amount_category") == "SMALL", 1).otherwise(0)).alias(
            "n_small"
        ),
        F.sum(F.when(F.col("amount_category") == "ENTERPRISE", 1).otherwise(0)).alias(
            "n_enterprise"
        ),
    )


def user_ltv(silver_tx: DataFrame, silver_users_current: DataFrame) -> DataFrame:
    """Gold user LTV (03_gold_aggregation.py:158-237): current users ⟕
    per-user transaction metrics; missing metrics surface 0."""
    metrics = silver_tx.filter(F.col("is_fulfilled")).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_tx"),
        F.round(F.sum(F.col("amount").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("ltv"),
        F.min("order_date").alias("first_order"),
        F.max("order_date").alias("last_order"),
        F.countDistinct("order_date").alias("active_days"),
    )
    return (
        silver_users_current.select("user_id", "segment", "is_premium")
        .join(metrics, "user_id", "left")
        .select(
            "user_id",
            "segment",
            "is_premium",
            F.coalesce(F.col("n_tx"), F.lit(0)).alias("n_tx"),
            F.coalesce(F.col("ltv"), F.lit(0.0)).alias("ltv"),
            "first_order",
            "last_order",
            F.coalesce(F.col("active_days"), F.lit(0)).alias("active_days"),
        )
    )


def cohort_analysis(silver_tx: DataFrame) -> DataFrame:
    """Gold cohort analysis (03_gold_aggregation.py:237-296): users
    grouped by first-order month; distinct actives per activity month."""
    cohorts = silver_tx.groupBy("user_id").agg(
        F.date_trunc("month", F.min("order_date")).cast("date").alias("cohort_month")
    )
    return (
        silver_tx.select(
            "user_id",
            F.date_trunc("month", F.col("order_date")).cast("date").alias(
                "activity_month"
            ),
        )
        .distinct()
        .join(cohorts, "user_id")
        .groupBy("cohort_month", "activity_month")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def daily_kpis(silver_tx: DataFrame, silver_events: DataFrame) -> DataFrame:
    """Gold daily KPIs (03_gold_aggregation.py:298-350): revenue KPIs ⟗
    engagement KPIs on the calendar date (full outer — either side may
    miss a day)."""
    rev = silver_tx.filter(F.col("is_fulfilled")).groupBy(
        F.col("order_date").alias("kpi_date")
    ).agg(
        F.round(F.sum(F.col("amount").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_revenue"),
        F.count(F.lit(1)).alias("total_transactions"),
        F.countDistinct("user_id").alias("paying_users"),
    )
    eng = silver_events.groupBy(F.col("event_date").alias("kpi_date")).agg(
        F.count(F.lit(1)).alias("total_events"),
        F.countDistinct("user_id").alias("active_users"),
        F.sum(F.when(F.col("event_category") == "CONVERSION", 1).otherwise(0)).alias(
            "conversion_events"
        ),
    )
    joined = rev.join(eng, "kpi_date", "full_outer")
    zero = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return joined.select(
        "kpi_date",
        F.coalesce(F.col("total_revenue"), F.lit(0.0)).alias("total_revenue"),
        zero("total_transactions").alias("total_transactions"),
        zero("paying_users").alias("paying_users"),
        zero("total_events").alias("total_events"),
        zero("active_users").alias("active_users"),
        zero("conversion_events").alias("conversion_events"),
        F.when(
            F.coalesce(F.col("total_events"), F.lit(0)) > 0,
            F.round(F.col("conversion_events") * 100.0 / F.col("total_events"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("conversion_rate"),
    )


@dataclass
class MedallionPipeline:
    """Composable three-layer pipeline rooted at ``root`` (one log
    table per layer, mirroring the bronze/silver/gold schemas of
    ``infrastructure/main.tf:186-214``)."""

    spark: SparkSession
    root: str

    def bronze_path(self) -> str:
        return f"{self.root}/bronze_events"

    def silver_path(self) -> str:
        return f"{self.root}/silver_events"

    def gold_path(self) -> str:
        return f"{self.root}/gold_daily_user_activity"

    def run_bronze(self, raw: DataFrame, ingestion_ts: str) -> LogTable:
        stamped = stamp_ingestion_metadata(raw, ingestion_ts)
        t = LogTable.create(
            self.spark,
            self.bronze_path(),
            stamped.schema,
            partition_by=["ingestion_date"],
        )
        t.append(stamped)
        return t

    def run_silver(self) -> LogTable:
        bronze = LogTable(self.spark, self.bronze_path()).read()
        silver = cleanse_events(bronze)
        t = LogTable.create(
            self.spark,
            self.silver_path(),
            silver.schema,
            partition_by=["event_date"],
        )
        # idempotent daily re-run: replace exactly the dates present in
        # this batch (K3 semantics at layer scope)
        t.overwrite(silver)
        return t

    def run_gold(self) -> LogTable:
        silver = LogTable(self.spark, self.silver_path()).read()
        gold = daily_user_activity(silver)
        t = LogTable.create(
            self.spark,
            self.gold_path(),
            gold.schema,
            partition_by=["event_date"],
        )
        t.overwrite(gold)
        return t

    def run(self, raw: DataFrame, ingestion_ts: str) -> LogTable:
        self.run_bronze(raw, ingestion_ts)
        self.run_silver()
        return self.run_gold()

    # ---- full reference DAG: events + transactions + SCD2 users ------

    def _table(self, name: str) -> str:
        return f"{self.root}/{name}"

    def run_bronze_transactions(self, raw_orders: DataFrame, ingestion_ts: str) -> LogTable:
        stamped = stamp_generic(
            raw_orders, ingestion_ts, ["o_orderkey", "o_custkey", "o_totalprice"]
        )
        t = LogTable.create(
            self.spark,
            self._table("bronze_transactions"),
            stamped.schema,
            partition_by=["ingestion_date"],
        )
        t.append(stamped)
        return t

    def run_silver_transactions(self) -> LogTable:
        bronze = LogTable(self.spark, self._table("bronze_transactions")).read()
        silver = cleanse_transactions(bronze)
        t = LogTable.create(
            self.spark,
            self._table("silver_transactions"),
            silver.schema,
        )
        # idempotent re-run: replace exactly this batch's date range
        # (K3 — 03_gold_aggregation.py:82-86 uses replaceWhere the same
        # way); the write job itself observes the bounds
        t.overwrite(silver, replace_range="order_date")
        return t

    def run_silver_users(self, snapshot: DataFrame, now: str) -> LogTable:
        """SCD2 users dimension (02_silver_transformation.py:289-330) —
        one staged-union MERGE per snapshot, injected clock."""
        from ..operators.scd2 import scd2_upsert, with_scd2_columns

        users = cleanse_users(snapshot)
        path = self._table("silver_users")
        t = LogTable(self.spark, path)
        if not t.exists():
            init = with_scd2_columns(users, ["user_id"], now)
            t = LogTable.create(self.spark, path, init.schema)
            t.append(init)
            return t
        scd2_upsert(t, users, ["user_id"], now)
        return t

    def run_gold_products(self) -> dict[str, LogTable]:
        """The five gold products (03_gold_aggregation.py:52-350), each
        its own log table; date-keyed products replace their batch's
        date range for idempotent daily re-runs.

        Each product is an independent transaction on its own table, so
        the five are written as one concurrent wave, one thread each;
        the caller's job group, description and tags reach every
        product's jobs. If a product fails, the others still commit and
        the first failure (in product order) is raised."""
        silver_ev = LogTable(self.spark, self.silver_path()).read()
        silver_tx = LogTable(self.spark, self._table("silver_transactions")).read()
        users_cur = (
            LogTable(self.spark, self._table("silver_users"))
            .read()
            .filter(F.col("is_current"))
        )
        products: dict[str, tuple[DataFrame, str | None]] = {
            "gold_daily_user_activity": (daily_user_activity(silver_ev), "event_date"),
            "gold_transaction_analytics": (transaction_analytics(silver_tx), "order_date"),
            "gold_user_ltv": (user_ltv(silver_tx, users_cur), None),
            "gold_cohort_analysis": (cohort_analysis(silver_tx), None),
            "gold_daily_kpis": (daily_kpis(silver_tx, silver_ev), "kpi_date"),
        }

        def write(name: str, df: DataFrame, date_key: str | None) -> LogTable:
            t = LogTable.create(self.spark, self._table(name), df.schema)
            t.overwrite(df, replace_range=date_key)
            return t

        with ThreadPoolExecutor(max_workers=len(products)) as pool:
            futures = {
                name: pool.submit(
                    inheritable_thread_target(self.spark)(write), name, df, key
                )
                for name, (df, key) in products.items()
            }
        for f in futures.values():
            if f.exception() is not None:
                raise f.exception()
        return {name: f.result() for name, f in futures.items()}

    def run_full(
        self,
        raw_events: DataFrame,
        raw_orders: DataFrame,
        users_snapshot: DataFrame,
        ingestion_ts: str,
    ) -> dict[str, LogTable]:
        """Composed bronze→silver→gold over all three source tables —
        the reference's whole notebook DAG in one deterministic call."""
        self.run_bronze(raw_events, ingestion_ts)
        self.run_silver()
        self.run_bronze_transactions(raw_orders, ingestion_ts)
        self.run_silver_transactions()
        self.run_silver_users(users_snapshot, ingestion_ts)
        return self.run_gold_products()
