"""Medallion pipeline query surface: run bronze→silver→gold on the
``events`` fixture against scratch log tables; oracles reproduce the
full pipeline declaratively (SURVEY §3.1)."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..plans.medallion import MedallionPipeline
from ..tables import LogTable
from .registry import load_table, query

_INGEST_TS = "2024-03-01 00:00:00"

# DuckDB twin of the silver layer (dedup omitted: event_id is unique in
# the fixture AND bronze is a single snapshot, so row_number()=1 is the
# identity; validity filter spelled out in full).
_SQL_SILVER = """
    SELECT event_id, ts, user_id, event_type, value, props,
           CAST(ts AS DATE) AS event_date,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS event_hour,
           CASE event_type
                WHEN 'purchase' THEN 'CONVERSION' WHEN 'signup' THEN 'CONVERSION'
                WHEN 'click' THEN 'ENGAGEMENT' WHEN 'view' THEN 'ENGAGEMENT'
                WHEN 'error' THEN 'ERROR' ELSE 'OTHER' END AS event_category,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    WHERE event_type IN ('click','error','purchase','signup','view')
      AND value IS NOT NULL AND value >= 0 AND user_id IS NOT NULL
"""


@query(
    "q70_medallion_gold",
    oracle=f"""
    WITH silver AS ({_SQL_SILVER})
    SELECT event_date, user_id,
           COUNT(*) AS total_events,
           CAST(SUM(CASE WHEN event_category = 'CONVERSION' THEN 1 ELSE 0 END) AS BIGINT) AS conversion_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS active_sec,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
           MAX(prop_k) AS max_prop_k
    FROM silver
    GROUP BY event_date, user_id
    """,
)
def q70_medallion_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full bronze→silver→gold pipeline (SURVEY §3.1) on scratch log
    tables with a pinned ingestion clock; returns the gold
    daily_user_activity product read back from its table."""
    raw = load_table(spark, sf_dir, "events")
    pipe = MedallionPipeline(spark, tempfile.mkdtemp(prefix="medallion-"))
    gold = pipe.run(raw, _INGEST_TS)
    return gold.read()


@query(
    "q71_bronze_stamping",
    oracle=f"""
    SELECT event_id,
           'events.parquet' AS source_file,
           DATE '2024-03-01' AS ingestion_date,
           sha256(concat_ws('|',
               CAST(event_id AS VARCHAR),
               strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f'),
               CAST(user_id AS VARCHAR),
               event_type,
               printf('%.6f', value))) AS data_hash
    FROM events
    WHERE event_id % 10 = 0
    """,
)
def q71_bronze_stamping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze ingestion metadata stamping (01_bronze_ingestion.py:56-62):
    injected clock, real source_file from the scan's _metadata, and the
    canonical sha2 row fingerprint — cross-engine reproducible."""
    from pyspark.sql import functions as F

    raw = load_table(spark, sf_dir, "events")
    pipe = MedallionPipeline(spark, tempfile.mkdtemp(prefix="bronze-"))
    bronze = pipe.run_bronze(raw, _INGEST_TS)
    return (
        bronze.read()
        .filter(F.col("event_id") % 10 == 0)
        .select("event_id", "source_file", "ingestion_date", "data_hash")
    )


@query(
    "q72_windowed_event_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
           time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q72_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows with watermark (T-tier [EXT],
    SURVEY §2.11): the same windowed_counts operator that runs on
    streams, executed in batch mode (identical semantics — Spark
    window aggregation is mode-agnostic)."""
    from ..streaming import windowed_counts

    e = load_table(spark, sf_dir, "events")
    return windowed_counts(
        e, ts_col="ts", window_duration="10 minutes", group_cols=["event_type"]
    )


@query(
    "q73_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), islands AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
    FROM islands GROUP BY user_id, session_no
    """,
)
def q73_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows (F.session_window — the
    streaming-capable sessionization), hash-matched against the SQL
    gaps-and-islands formulation: session_end = last event + gap in
    both. Unlike the q18 lag-over-global-sort pattern, this operator
    runs incrementally on streams with state cleanup via watermark."""
    from ..streaming import session_windowed_counts

    e = load_table(spark, sf_dir, "events")
    return session_windowed_counts(
        e, ts_col="ts", gap="30 minutes", group_cols=["user_id"]
    ).select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )


# DuckDB twin of the silver transactions cleanse (plans/medallion.py
# cleanse_transactions — near-identity on the fixture, spelled in full).
_SQL_SILVER_TX = """
    SELECT o_orderkey AS transaction_id, o_custkey AS user_id,
           CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice AS amount,
           upper(trim(o_orderstatus)) AS status,
           CASE WHEN o_totalprice < 50000 THEN 'SMALL'
                WHEN o_totalprice < 150000 THEN 'MEDIUM'
                WHEN o_totalprice < 300000 THEN 'LARGE'
                ELSE 'ENTERPRISE' END AS amount_category,
           (upper(trim(o_orderstatus)) = 'F') AS is_fulfilled
    FROM orders
    WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_totalprice > 0
"""

_DSUM = "CAST(ROUND(SUM(CAST({x} AS DECIMAL(18,4))), 4) AS DOUBLE)"


def _tx_pipeline(spark: SparkSession, sf_dir: str, with_events: bool = False):
    """Scratch bronze→silver run over the orders (+ optionally events)
    fixtures; returns the pipeline with silver tables materialized."""
    pipe = MedallionPipeline(spark, tempfile.mkdtemp(prefix="medallion-full-"))
    pipe.run_bronze_transactions(load_table(spark, sf_dir, "orders"), _INGEST_TS)
    pipe.run_silver_transactions()
    pipe.run_silver_users(load_table(spark, sf_dir, "customer"), _INGEST_TS)
    if with_events:
        pipe.run_bronze(load_table(spark, sf_dir, "events"), _INGEST_TS)
        pipe.run_silver()
    return pipe


@query(
    "q84_medallion_tx_analytics",
    oracle=f"""
    WITH tx AS ({_SQL_SILVER_TX})
    SELECT order_date,
           COUNT(*) AS n_tx,
           COUNT(DISTINCT user_id) AS n_users,
           {_DSUM.format(x='amount')} AS revenue,
           {_DSUM.format(x="CASE WHEN is_fulfilled THEN amount ELSE 0 END")} AS fulfilled_revenue,
           CAST(SUM(CASE WHEN amount_category = 'SMALL' THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
           CAST(SUM(CASE WHEN amount_category = 'ENTERPRISE' THEN 1 ELSE 0 END) AS BIGINT) AS n_enterprise
    FROM tx GROUP BY order_date
    """,
)
def q84_medallion_tx_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed-pipeline gold: daily transaction analytics read back from
    its log table after a real bronze→silver→gold run
    (03_gold_aggregation.py:100-149)."""
    pipe = _tx_pipeline(spark, sf_dir)
    from ..plans.medallion import transaction_analytics
    from ..tables import LogTable

    silver = LogTable(spark, pipe._table("silver_transactions")).read()
    df = transaction_analytics(silver)
    t = LogTable.create(spark, pipe._table("gold_transaction_analytics"), df.schema)
    t.overwrite(df)
    return t.read()


@query(
    "q85_medallion_user_ltv",
    oracle=f"""
    WITH tx AS ({_SQL_SILVER_TX}),
    m AS (
        SELECT user_id, COUNT(*) AS n_tx,
               {_DSUM.format(x='amount')} AS ltv,
               MIN(order_date) AS first_order,
               MAX(order_date) AS last_order,
               COUNT(DISTINCT order_date) AS active_days
        FROM tx WHERE is_fulfilled GROUP BY user_id
    )
    SELECT c.c_custkey AS user_id,
           upper(trim(c.c_mktsegment)) AS segment,
           (c.c_acctbal > 5000) AS is_premium,
           COALESCE(m.n_tx, 0) AS n_tx,
           COALESCE(m.ltv, 0.0) AS ltv,
           m.first_order, m.last_order,
           COALESCE(m.active_days, 0) AS active_days
    FROM customer c LEFT JOIN m ON m.user_id = c.c_custkey
    WHERE c.c_custkey IS NOT NULL
    """,
)
def q85_medallion_user_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed-pipeline gold: user LTV over the SCD2-current users
    dimension ⟕ fulfilled-transaction metrics
    (03_gold_aggregation.py:158-237)."""
    from pyspark.sql import functions as F

    from ..plans.medallion import user_ltv
    from ..tables import LogTable

    pipe = _tx_pipeline(spark, sf_dir)
    silver = LogTable(spark, pipe._table("silver_transactions")).read()
    users = (
        LogTable(spark, pipe._table("silver_users")).read().filter(F.col("is_current"))
    )
    return user_ltv(silver, users)


@query(
    "q86_medallion_cohorts",
    oracle=f"""
    WITH tx AS ({_SQL_SILVER_TX}),
    cohorts AS (
        SELECT user_id, CAST(date_trunc('month', MIN(order_date)) AS DATE) AS cohort_month
        FROM tx GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('month', order_date) AS DATE) AS activity_month
        FROM tx
    )
    SELECT c.cohort_month, a.activity_month, COUNT(DISTINCT a.user_id) AS n_active
    FROM activity a JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q86_medallion_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed-pipeline gold: cohort analysis
    (03_gold_aggregation.py:237-296)."""
    from ..plans.medallion import cohort_analysis
    from ..tables import LogTable

    pipe = _tx_pipeline(spark, sf_dir)
    return cohort_analysis(LogTable(spark, pipe._table("silver_transactions")).read())


@query(
    "q87_medallion_daily_kpis",
    oracle=f"""
    WITH tx AS ({_SQL_SILVER_TX}),
    silver AS ({_SQL_SILVER}),
    rev AS (
        SELECT order_date AS kpi_date,
               {_DSUM.format(x='amount')} AS total_revenue,
               COUNT(*) AS total_transactions,
               COUNT(DISTINCT user_id) AS paying_users
        FROM tx WHERE is_fulfilled GROUP BY order_date
    ),
    eng AS (
        SELECT CAST(ts AS DATE) AS kpi_date,
               COUNT(*) AS total_events,
               COUNT(DISTINCT user_id) AS active_users,
               CAST(SUM(CASE WHEN event_category = 'CONVERSION' THEN 1 ELSE 0 END) AS BIGINT) AS conversion_events
        FROM silver GROUP BY 1
    )
    SELECT COALESCE(rev.kpi_date, eng.kpi_date) AS kpi_date,
           COALESCE(total_revenue, 0.0) AS total_revenue,
           COALESCE(total_transactions, 0) AS total_transactions,
           COALESCE(paying_users, 0) AS paying_users,
           COALESCE(total_events, 0) AS total_events,
           COALESCE(active_users, 0) AS active_users,
           COALESCE(conversion_events, 0) AS conversion_events,
           CASE WHEN COALESCE(total_events, 0) > 0
                THEN ROUND(COALESCE(conversion_events, 0) * 100.0 / total_events, 4)
                ELSE 0.0 END AS conversion_rate
    FROM rev FULL OUTER JOIN eng ON rev.kpi_date = eng.kpi_date
    """,
)
def q87_medallion_daily_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed-pipeline gold: daily KPIs — revenue ⟗ engagement on the
    calendar date (03_gold_aggregation.py:298-350)."""
    from ..plans.medallion import daily_kpis
    from ..tables import LogTable

    pipe = _tx_pipeline(spark, sf_dir, with_events=True)
    return daily_kpis(
        LogTable(spark, pipe._table("silver_transactions")).read(),
        LogTable(spark, pipe.silver_path()).read(),
    )


@query(
    "q88_scd2_users_state",
    oracle="""
    WITH base AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey IS NOT NULL)
    SELECT FALSE AS is_current,
           (SELECT COUNT(*) FROM base WHERE c_custkey % 10 = 0) AS n_rows,
           (SELECT CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE)
              FROM base WHERE c_custkey % 10 = 0) AS total_bal
    UNION ALL
    SELECT TRUE,
           (SELECT COUNT(*) FROM base),
           (SELECT CAST(ROUND(SUM(CAST(
                c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 100 ELSE 0 END
            AS DECIMAL(18,4))), 4) AS DOUBLE) FROM base)
    """,
)
def q88_scd2_users_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot SCD2 state check: snapshot 2 bumps acctbal by 100
    for every tenth user → those rows close (is_current=false, original
    balance) and reopen with the new balance; untouched users keep one
    open row. Final-state aggregate hash-checked against the
    declarative twin (02_silver_transformation.py:83-135)."""
    from pyspark.sql import functions as F

    from ..tables import LogTable

    pipe = MedallionPipeline(spark, tempfile.mkdtemp(prefix="scd2-"))
    snap1 = load_table(spark, sf_dir, "customer")
    pipe.run_silver_users(snap1, "2024-03-01 00:00:00")
    snap2 = snap1.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    pipe.run_silver_users(snap2, "2024-03-02 00:00:00")
    users = LogTable(spark, pipe._table("silver_users")).read()
    return users.groupBy("is_current").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("acctbal").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_bal"),
    )


@query(
    "q92_streaming_cdc_apply",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) * 4096 + event_id % 4096 DESC
               ) AS rn
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
    FROM ranked WHERE rn = 1 GROUP BY event_type
    """,
)
def q92_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured-Streaming execution hash-checked against an
    oracle: the events fixture is re-materialized as JSON change files,
    applied through ``stream_upsert_to_table`` (foreachBatch MERGE,
    availableNow, batch-id idempotence), and the FINAL upserted state —
    latest event per user — is aggregated per event type.

    Determinism by construction: ``ord`` (micros × 4096 + event_id mod
    4096) is strictly unique per user so latest-wins has no ties, and
    keys are chunked user_id-mod-3 so each user's history lives in one
    chunk — micro-batch arrival order cannot change the final state."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..streaming import stream_upsert_to_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        (F.unix_micros(F.col("ts")) * 4096 + F.col("event_id") % 4096).alias("ord"),
    )
    root = tempfile.mkdtemp(prefix="stream-cdc-")
    src = os.path.join(root, "src")
    os.makedirs(src)
    for b in range(3):
        stage = os.path.join(root, f"stage{b}")
        e.filter(F.col("user_id") % 3 == b).coalesce(1).write.json(stage)
        for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.json"))):
            shutil.move(f, os.path.join(src, f"chunk-{b}-{i}.json"))

    schema = e.schema
    table_path = os.path.join(root, "state")
    q = stream_upsert_to_table(
        spark,
        src,
        table_path,
        schema,
        key_columns=["user_id"],
        order_col="ord",
        file_format="json",
        checkpoint=os.path.join(root, "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination()

    from ..tables import LogTable

    state = LogTable(spark, table_path).read()
    return state.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_value"),
    )


@query(
    "q103_stream_windowed_agg",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) + INTERVAL 1 DAY AS TIMESTAMP)
               AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q103_stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming event-time windowed aggregation with a watermark
    verdict baked into the hash: the events fixture is replayed as
    three chronological chunk files (mtime-ordered micro-batches, one
    file per trigger) plus a LATE STRAGGLER file re-emitting day-1/2
    rows after the watermark has advanced past Jan 29. The streaming
    agg (``withWatermark`` + 1-day tumbling ``F.window``, update mode
    → foreachBatch MERGE keyed on window_start+event_type) must drop
    every straggler row — the oracle aggregates the ORIGINAL events
    only, so any watermark leak double-counts day-1 windows and fails
    the hash.

    Determinism: chunks partition event time, so at each batch the
    effective watermark (Spark applies batch N's late filter with the
    watermark computed after batch N−2 — one batch behind the
    progress-reported value) sits below every new chunk's minimum —
    zero unintended drops regardless of in-chunk order. The straggler
    arrives TWO batches after chunk 2 pushed the watermark past
    mid-January, so its effective watermark (max(chunks 0-1) − 24 h ≈
    Jan 19) is safely above every straggler window — dropped in full.
    Timestamps ride as epoch-micros LONGs through JSON (lossless
    transport) and are re-typed in-stream."""
    import glob
    import os
    import shutil
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from ..streaming import stream_windowed_agg_to_table

    e = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts")).alias("ts_us"), "event_type", "value"
    )

    def us(day: str) -> int:
        return int(
            datetime.fromisoformat(day).replace(tzinfo=timezone.utc).timestamp() * 1e6
        )

    b1, b2 = us("2024-01-11"), us("2024-01-21")
    chunks = [
        e.filter(F.col("ts_us") < b1),
        e.filter((F.col("ts_us") >= b1) & (F.col("ts_us") < b2)),
        e.filter(F.col("ts_us") >= b2),
        # late straggler: re-emission of the oldest rows, arriving last
        e.filter(F.col("ts_us") < us("2024-01-03")),
    ]
    root = tempfile.mkdtemp(prefix="stream-win-")
    src = os.path.join(root, "src")
    os.makedirs(src)
    import time as _time

    t0 = _time.time() - 400
    for i, ch in enumerate(chunks):
        stage = os.path.join(root, f"stage{i}")
        ch.coalesce(1).write.json(stage)
        (part,) = glob.glob(f"{stage}/part-*.json")
        dest = os.path.join(src, f"chunk-{i}.json")
        shutil.move(part, dest)
        os.utime(dest, (t0 + i * 60, t0 + i * 60))  # micro-batch order

    from pyspark.sql import types as T

    wire_schema = T.StructType(
        [
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    table_path = os.path.join(root, "gold")
    q = stream_windowed_agg_to_table(
        spark,
        src,
        table_path,
        wire_schema,
        ts_col="ts",
        window_duration="1 day",
        watermark="24 hours",
        group_cols=["event_type"],
        transform=lambda df: df.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
        checkpoint=os.path.join(root, "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination()
    return (
        LogTable(spark, table_path)
        .read()
        .select(
            "window_start",
            "window_end",
            "event_type",
            "n_events",
            F.round(F.col("total_value"), 4).alias("total_value"),
        )
    )


def _events_json_chunks(spark, sf_dir, selector, chunks):
    """Materialize the events fixture as JSON chunk files with
    mtime-ordered micro-batch boundaries (epoch-micros transport)."""
    import glob
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    e = selector(load_table(spark, sf_dir, "events"))
    root = tempfile.mkdtemp(prefix="stream-src-")
    src = os.path.join(root, "src")
    os.makedirs(src)
    t0 = _time.time() - 400
    for i, ch in enumerate(chunks(e)):
        stage = os.path.join(root, f"stage{i}")
        ch.coalesce(1).write.json(stage)
        (part,) = glob.glob(f"{stage}/part-*.json")
        dest = os.path.join(src, f"chunk-{i}.json")
        shutil.move(part, dest)
        os.utime(dest, (t0 + i * 60, t0 + i * 60))
    return root, src


@query(
    "q108_stream_interval_join",
    oracle="""
    SELECT l.user_id,
           CAST(l.ts AS TIMESTAMP) AS click_ts,
           CAST(r.ts AS TIMESTAMP) AS purchase_ts,
           r.value AS purchase_value
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND CAST(r.ts AS TIMESTAMP) > CAST(l.ts AS TIMESTAMP)
     AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    """,
)
def q108_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream event-time interval join hash-checked against
    a SQL range join: clicks and purchases replay as two file streams,
    ``interval_join`` (two-sided time bound + watermarks, so buffered
    state expires) attributes each purchase to the clicks of the same
    user within the preceding hour, and the joined rows land in a log
    table via foreachBatch. Inner-join matches emit as found, so a
    single availableNow batch per side is exactly the batch semantics —
    while still executing Spark's streaming symmetric hash join with
    watermarked state, not a batch join."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..streaming import interval_join
    from ..tables import LogTable

    root, src = _events_json_chunks(
        spark,
        sf_dir,
        lambda e: e.filter(F.col("event_type").isin("click", "purchase")).select(
            "user_id", "event_type", "value", F.unix_micros(F.col("ts")).alias("ts_us")
        ),
        lambda e: [e],
    )
    wire = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(wire)
            .format("json")
            .load(src)
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )

    left = (
        stream()
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("lts"))
    )
    right = (
        stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("rts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = interval_join(
        left,
        right,
        keys=["user_id"],
        max_delay="1 hour",
        watermark="2 hours",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("lts").alias("click_ts"),
        F.col("rts").alias("purchase_ts"),
        "purchase_value",
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_ts", T.TimestampType()),
            T.StructField("purchase_ts", T.TimestampType()),
            T.StructField("purchase_value", T.DoubleType()),
        ]
    )
    table_path = os.path.join(root, "attrib")
    t = LogTable.create(spark, table_path, out_schema)

    def sink(bdf, bid):
        LogTable(spark, table_path).append(bdf)

    q = (
        joined.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return LogTable(spark, table_path).read()


@query(
    "q109_stream_ingest_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
)
def q109_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming ingest-dedup hash-checked end-to-end: the events
    fixture replays as two mtime-ordered chunk files — the second one
    RE-EMITS every fifth event (producer-retry duplicates, the #1
    ingest artifact) — through ``stream_dedup_to_table``
    (``dropDuplicatesWithinWatermark`` + batch-id-idempotent append).
    The cross-micro-batch state store must drop every re-delivery for
    the final table to hash-match SELECT-the-original-events; a plain
    append sink would double 20% of the rows. Bounded state: keys are
    held only inside the watermark horizon, never forever."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..streaming import stream_dedup_to_table
    from ..tables import LogTable

    cols = ["event_id", "user_id", "event_type", "value"]
    # ts rides as a native JSON timestamp: it only drives the watermark
    # (not the hashed output), so sub-millisecond JSON fidelity is moot
    root, src = _events_json_chunks(
        spark,
        sf_dir,
        lambda e: e.select(*cols, "ts"),
        lambda e: [e, e.filter(F.col("event_id") % 5 == 0)],  # chunk 2 = re-delivery
    )
    wire = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    table_path = os.path.join(root, "clean")
    q = stream_dedup_to_table(
        spark,
        src,
        table_path,
        wire,
        key_columns=["event_id"],
        ts_col="ts",
        watermark="90 days",  # horizon ≥ fixture span: every retry caught
        checkpoint=os.path.join(root, "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination()
    return LogTable(spark, table_path).read().select(*cols)


@query(
    "q135_stream_enrich",
    oracle="""
    WITH rated AS (
        SELECT event_type, value,
               CASE event_type
                    WHEN 'click' THEN 1.5
                    WHEN 'error' THEN 0.0
                    WHEN 'purchase' THEN
                         (CASE WHEN event_id % 2 = 0 THEN 10.0 ELSE 20.0 END)
                    WHEN 'signup' THEN 5.0
                    ELSE 1.0 END AS rate
        FROM events
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)) * CAST(rate AS DECIMAL(8,4))), 4)
                AS DOUBLE) AS total_weighted
    FROM rated GROUP BY event_type
    """,
)
def q135_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream–static enrichment join hash-checked against an
    oracle: events replayed as JSON chunks through
    ``stream_enrich_to_table``, each micro-batch left-joining the
    CURRENT snapshot of a ``rates`` dimension log table (Delta
    stream-static semantics — the static side re-reads per batch).
    Between the two availableNow runs the dimension is UPDATEd
    (purchase 10.0 → 20.0), so even-id rows (run 1) carry the old rate
    and odd-id rows (run 2) the new one — the oracle encodes exactly
    that stamped-at-ingest split, so both a stale-dim cache and a
    retroactive re-join fail the hash."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..streaming import stream_enrich_to_table
    from ..tables import LogTable

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="stream-enrich-")
    src = os.path.join(root, "src")
    os.makedirs(src)

    dim_path = os.path.join(root, "rates")
    dim_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("rate", T.DoubleType()),
        ]
    )
    dim = LogTable.create(spark, dim_path, dim_schema)
    dim.append(
        spark.createDataFrame(
            [("click", 1.5), ("error", 0.0), ("purchase", 10.0),
             ("signup", 5.0), ("view", 1.0)],
            dim_schema,
        )
    )

    def emit(chunk_df, tag: str) -> None:
        stage = os.path.join(root, f"stage-{tag}")
        chunk_df.coalesce(1).write.json(stage)
        for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.json"))):
            shutil.move(f, os.path.join(src, f"chunk-{tag}-{i}.json"))

    table_path = os.path.join(root, "enriched")
    ckpt = os.path.join(root, "ckpt")

    def drain() -> None:
        q = stream_enrich_to_table(
            spark, src, table_path, e.schema, dim_path,
            join_key="event_type", checkpoint=ckpt,
        )
        q.awaitTermination()

    emit(e.filter(F.col("event_id") % 2 == 0), "a")
    drain()  # run 1: even ids stamped with dim v1
    dim.update("event_type = 'purchase'", {"rate": "20.0"})
    emit(e.filter(F.col("event_id") % 2 == 1), "b")
    drain()  # run 2: odd ids stamped with dim v2

    enriched = LogTable(spark, table_path).read()
    return enriched.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(
                F.col("value").cast("decimal(18,4)")
                * F.col("rate").cast("decimal(8,4)")
            ),
            4,
        )
        .cast("double")
        .alias("total_weighted"),
    )


@query(
    "q141_stream_outer_interval_join",
    oracle="""
    SELECT l.user_id,
           CAST(l.ts AS TIMESTAMP) AS click_ts,
           CAST(r.ts AS TIMESTAMP) AS purchase_ts,
           r.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND CAST(r.ts AS TIMESTAMP) > CAST(l.ts AS TIMESTAMP)
     AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    """,
)
def q141_stream_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL stream-stream LEFT OUTER interval join hash-checked against
    a SQL left range join: the outer complement of q108 — every click
    with no purchase in the following hour must ALSO emit, with nulls,
    and only once the watermark proves no match can still arrive
    (Spark's outer stream-stream semantics). The replay appends two
    far-future sentinel chunks (a click+purchase pair each, user -1,
    filtered from the result): the first advances the watermark past
    every real event, the second triggers the batch in which the
    eviction is applied and the null rows actually surface —
    maxFilesPerTrigger=1 forces the three-batch cadence. A plain inner
    join would drop every never-converted click and hash-mismatch."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..streaming import interval_join
    from ..tables import LogTable

    def sentinels(offset_hours: int):
        # one click + one purchase far past every fixture event: both
        # per-side watermarks advance; user -1 is filtered from output
        far = int(4102444800 * 1_000_000)  # 2100-01-01 in epoch micros
        far += offset_hours * 3_600 * 1_000_000
        return spark.createDataFrame(
            [(-1, "click", 0.0, far), (-1, "purchase", 0.0, far)],
            "user_id long, event_type string, value double, ts_us long",
        )

    root, src = _events_json_chunks(
        spark,
        sf_dir,
        lambda e: e.filter(
            F.col("event_type").isin("click", "purchase")
        ).select(
            "user_id",
            "event_type",
            "value",
            F.unix_micros(F.col("ts")).alias("ts_us"),
        ),
        lambda e: [e, sentinels(0), sentinels(10)],
    )
    wire = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(wire)
            .format("json")
            .option("maxFilesPerTrigger", 1)
            .load(src)
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )

    left = (
        stream()
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("lts"))
    )
    right = (
        stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("rts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = interval_join(
        left,
        right,
        keys=["user_id"],
        max_delay="1 hour",
        watermark="2 hours",
        how="left_outer",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("lts").alias("click_ts"),
        F.col("rts").alias("purchase_ts"),
        "purchase_value",
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_ts", T.TimestampType()),
            T.StructField("purchase_ts", T.TimestampType()),
            T.StructField("purchase_value", T.DoubleType()),
        ]
    )
    table_path = os.path.join(root, "attrib_outer")
    LogTable.create(spark, table_path, out_schema)

    def sink(bdf, bid):
        # the sentinel filter MUST live in the sink, not the streaming
        # plan: as a plan filter Catalyst pushes user_id >= 0 below the
        # watermark into BOTH sources (left directly; right through the
        # join-key equality constraint — legal for left outer), so the
        # watermark-advancing sentinels would never be seen at all and
        # no outer row could ever be declared final
        LogTable(spark, table_path).append(bdf.filter(F.col("user_id") >= 0))

    q = (
        joined.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return LogTable(spark, table_path).read()


@query(
    "q142_stream_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), islands AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
    FROM islands GROUP BY user_id, session_no
    """,
)
def q142_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL STREAMING session windows in append mode, hash-matched
    against the gaps-and-islands SQL: q73 runs the same
    ``session_window`` aggregation in batch mode; here the events
    replay as a file stream and a session may only emit once the
    watermark proves its gap can no longer be extended (append-mode
    finalization — the semantics batch mode never exercises). Two
    far-future sentinel chunks (user -1, filtered SINK-side per the
    q141 pushdown trap) advance the watermark past every real event
    and trigger the batch where the closed sessions surface."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..streaming import session_windowed_counts
    from ..tables import LogTable

    def sentinels(off_h: int):
        far = (4102444800 + off_h * 3600) * 1_000_000
        return spark.createDataFrame(
            [(-1, 0.0, far)], "user_id long, value double, ts_us long"
        )

    root, src = _events_json_chunks(
        spark,
        sf_dir,
        lambda e: e.select(
            "user_id", "value", F.unix_micros(F.col("ts")).alias("ts_us")
        ),
        lambda e: [e, sentinels(0), sentinels(10)],
    )
    wire = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(wire)
        .format("json")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    sessions = session_windowed_counts(
        stream, ts_col="ts", gap="30 minutes", watermark="30 minutes",
        group_cols=["user_id"],
    ).select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    table_path = os.path.join(root, "sessions")
    LogTable.create(spark, table_path, out_schema)

    def sink(bdf, bid):
        LogTable(spark, table_path).append(
            bdf.filter(F.col("user_id") >= 0)
        )

    q = (
        sessions.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return LogTable(spark, table_path).read()


@query(
    "q144_stateful_running_totals",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def q144_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator driven end-to-end
    (``streaming/stateful.py:running_totals`` —
    ``applyInPandasWithState``): the events fixture replays as TWO
    micro-batches (a 40/60 split) so per-user counters must flow
    through the checkpointed state store between batches, update-mode
    emissions MERGE into a log table on the key, and the final table
    must equal the all-time SQL aggregate. Values ride as integer
    cents, so the state accumulation is exact in any engine and
    arrival order (float sums of integers are exact below 2**53)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..streaming import running_totals
    from ..tables import LogTable

    root, src = _events_json_chunks(
        spark,
        sf_dir,
        lambda e: e.select(
            F.col("user_id").cast("string").alias("user_id"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            "event_id",
        ),
        lambda e: [
            e.filter(F.col("event_id") % 5 < 2),
            e.filter(F.col("event_id") % 5 >= 2),
        ],
    )
    wire = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("cents", T.LongType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(wire)
        .format("json")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    totals = running_totals(stream, key_col="user_id", value_col="cents")

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_cents", T.DoubleType()),
        ]
    )
    table_path = os.path.join(root, "totals")
    t = LogTable.create(spark, table_path, out_schema)

    def sink(bdf, bid):
        LogTable(spark, table_path).upsert(
            bdf.withColumnRenamed("total_value", "total_cents"),
            key_columns=["user_id"],
        )

    q = (
        totals.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return LogTable(spark, table_path).read()


@query(
    "q159_stateful_timeout_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, session_no
    """,
)
def q159_stateful_timeout_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSTOM-STATE sessionization with event-time TIMEOUTS
    (``stateful.timeout_sessions`` — raw ``applyInPandasWithState`` +
    ``EventTimeTimeout``, vs q142's built-in ``session_window``): a
    session emits when a later same-key event proves the gap elapsed,
    or via ``state.hasTimedOut`` once the watermark passes last+gap
    with no further data for that key — the abandoned-key path only a
    state timeout can take, and at this fixture's scale the LAST
    session of every one of the 150 users must close that way. The
    full emitted set hash-matches the gaps-and-islands SQL."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..streaming import timeout_sessions
    from ..tables import LogTable

    def sentinels(off_h: int):
        far = (4102444800 + off_h * 3600) * 1_000_000
        return spark.createDataFrame(
            [(-1, far)], "user_id long, ts_us long"
        )

    root, src = _events_json_chunks(
        spark,
        sf_dir,
        lambda e: e.select(
            "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
        ),
        lambda e: [e, sentinels(0), sentinels(10)],
    )
    wire = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(wire)
        .format("json")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .select("user_id", "ts")
    )
    sessions = timeout_sessions(stream, gap_minutes=30)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    table_path = os.path.join(root, "tsessions")
    LogTable.create(spark, table_path, out_schema)

    def sink(bdf, bid):
        LogTable(spark, table_path).append(
            bdf.filter(F.col("user_id") != "-1")
        )

    q = (
        sessions.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return LogTable(spark, table_path).read()


@query(
    "q160_state_store_introspection",
    oracle="""
    WITH wm AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w FROM events
    )
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    HAVING CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               + INTERVAL 1 DAY > (SELECT w FROM wm)
    """,
)
def q160_state_store_introspection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STATE STORE introspection (Spark's ``statestore`` batch reader —
    the ops surface for debugging a live streaming job's checkpointed
    state without stopping it): a watermarked tumbling-window count
    runs over the events replay, then the checkpoint's state store is
    read back as a batch DataFrame. The surviving state is exactly the
    windows the watermark has NOT yet evicted (end > max_ts − 1h —
    eviction applied by availableNow's trailing no-data batch), so the
    introspected rows hash-match a declarative oracle: state-store
    contents are a pure function of the replayed data."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    root, src = _events_json_chunks(
        spark,
        sf_dir,
        lambda e: e.select(
            "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
        ),
        lambda e: [e],
    )
    wire = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(wire)
        .format("json")
        .load(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ck = os.path.join(root, "ckpt")

    def sink(bdf, bid):
        bdf.count()

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ck)
    return state.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
    )


@query(
    "q171_stream_scd2_apply",
    oracle="""
    WITH base AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    )
    -- v1 closed at T2 for every %3 key (a later version arrived)
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '2024-01-01 00:00:00' AS effective_start_date,
           TIMESTAMP '2024-02-01 00:00:00' AS effective_end_date,
           FALSE AS is_current
    FROM base WHERE c_custkey % 3 = 0
    UNION ALL
    -- v2 stays open for %3 keys that never changed again
    SELECT c_custkey, 'MOVED2', c_acctbal,
           TIMESTAMP '2024-02-01 00:00:00', NULL, TRUE
    FROM base WHERE c_custkey % 3 = 0 AND c_custkey % 9 <> 0
    UNION ALL
    -- v2 closed at T4 for %9 keys (v3 arrived)
    SELECT c_custkey, 'MOVED2', c_acctbal,
           TIMESTAMP '2024-02-01 00:00:00',
           TIMESTAMP '2024-04-01 00:00:00', FALSE
    FROM base WHERE c_custkey % 9 = 0
    UNION ALL
    -- v3 open for %9 keys
    SELECT c_custkey, 'MOVED2', c_acctbal + 50,
           TIMESTAMP '2024-04-01 00:00:00', NULL, TRUE
    FROM base WHERE c_custkey % 9 = 0
    UNION ALL
    -- every non-%3 key keeps its original open row: the T3 duplicate
    -- records (%4 keys) collapse instead of re-versioning
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '2024-01-01 00:00:00', NULL, TRUE
    FROM base WHERE c_custkey % 3 <> 0
    """,
)
def q171_stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming SCD Type 2 apply [EXT] (DLT's ``APPLY CHANGES …
    STORED AS SCD TYPE 2`` semantics on open primitives,
    ``streaming/ingest.py:stream_scd2_apply``): four change files
    replay in timestamp order as four micro-batches — initial
    snapshot, a segment change for %3 keys, DUPLICATE records for %4
    keys (must collapse, not re-version), and a balance change for %9
    keys. The final dimension carries the full version history: every
    change opens a version at its event timestamp and closes its
    predecessor at the same instant; duplicates (vs the open row's
    hash) vanish. The whole history — closes, opens, chains — is
    hash-checked against the declarative DuckDB reconstruction."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..streaming import stream_scd2_apply
    from ..tables import LogTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    root = tempfile.mkdtemp(prefix="stream-scd2-")
    src = os.path.join(root, "src")
    os.makedirs(src)

    def dump(df, name, mtime):
        import glob
        import shutil

        stage = os.path.join(root, f"stage-{name}")
        df.coalesce(1).write.json(stage)
        out = os.path.join(src, f"{name}.json")
        shutil.move(sorted(glob.glob(f"{stage}/part-*.json"))[0], out)
        os.utime(out, (mtime, mtime))

    t1, t2, t3, t4 = (
        "2024-01-01 00:00:00", "2024-02-01 00:00:00",
        "2024-03-01 00:00:00", "2024-04-01 00:00:00",
    )
    v1 = c.select("*", F.lit(t1).alias("ts"))
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.lit("MOVED2").alias("c_mktsegment"), "c_acctbal",
        F.lit(t2).alias("ts"),
    )
    # duplicates of the CURRENT state at T3 for %4 keys (MOVED2 for
    # %12 keys, the original row otherwise) — must collapse
    dup = c.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, "MOVED2")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_acctbal",
        F.lit(t3).alias("ts"),
    )
    v3 = c.filter(F.col("c_custkey") % 9 == 0).select(
        "c_custkey", F.lit("MOVED2").alias("c_mktsegment"),
        (F.col("c_acctbal") + 50).alias("c_acctbal"),
        F.lit(t4).alias("ts"),
    )
    dump(v1, "c0", 1e9)
    dump(v2, "c1", 1e9 + 60)
    dump(dup, "c2", 1e9 + 120)
    dump(v3, "c3", 1e9 + 180)

    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    table_path = os.path.join(root, "dim")
    q = stream_scd2_apply(
        spark,
        src,
        table_path,
        schema,
        key_columns=["c_custkey"],
        order_col="ts",
        checkpoint=os.path.join(root, "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    return LogTable(spark, table_path).read().drop("record_hash")


@query(
    "q173_stream_pit_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           CASE WHEN CAST(e.ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'
                     AND e.user_id % 2 = 0
                THEN 'MOVED'
                ELSE 'seg_' || CAST(e.user_id % 5 AS VARCHAR) END AS segment
    FROM events e WHERE e.event_type = 'purchase'
    """,
)
def q173_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming POINT-IN-TIME enrichment [EXT]
    (``streaming/ingest.py:stream_pit_enrich``): purchases stream
    against an SCD2 user dimension whose segment changed for even
    users mid-month — each event must pick up the segment that was
    current AT ITS OWN TIMESTAMP (events before the change keep the
    old segment even though a newer version exists at processing
    time), the anti-leakage rule a feature store lives by. The dim is
    built with the same SCD2 machinery as q66 (pinned clocks); the
    oracle reconstructs the per-event version choice declaratively."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..operators.scd2 import scd2_upsert, with_scd2_columns
    from ..streaming import stream_pit_enrich

    # SCD2 user dimension: segment seg_<uid%5> from 2024-01-01; even
    # users move to MOVED at 2024-01-15
    users = spark.range(150).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("seg_"), (F.col("id") % 5).cast("string")).alias(
            "segment"
        ),
    )
    root = tempfile.mkdtemp(prefix="stream-pit-")
    init = with_scd2_columns(users, ["user_id"], "2024-01-01 00:00:00")
    dim = LogTable.create(spark, os.path.join(root, "dim"), init.schema)
    dim.append(init)
    moved = users.withColumn(
        "segment",
        F.when(F.col("user_id") % 2 == 0, "MOVED").otherwise(
            F.col("segment")
        ),
    )
    scd2_upsert(dim, moved, ["user_id"], "2024-01-15 00:00:00")

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    src = os.path.join(root, "src")
    os.makedirs(src)
    for b in range(3):
        stage = os.path.join(root, f"stage{b}")
        e.filter(F.col("event_id") % 3 == b).coalesce(1).write.json(stage)
        for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.json"))):
            shutil.move(f, os.path.join(src, f"chunk-{b}-{i}.json"))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    out_path = os.path.join(root, "enriched")
    q = stream_pit_enrich(
        spark,
        src,
        out_path,
        dim.path,
        schema,
        key_columns=["user_id"],
        ts_col="ts",
        checkpoint=os.path.join(root, "ckpt"),
        max_files_per_trigger=1,
        # JSON timestamps are milli-precise; ship exact micros as a
        # long and re-type on the stream
        transform=lambda r: r.withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))
        ).drop("ts_us"),
    )
    q.awaitTermination()
    return LogTable(spark, out_path).read().select(
        "event_id", "user_id", "ts", "segment"
    )


@query(
    "q219_stream_schema_inference",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS total_value,
           TRUE AS schema_pinned_reused,
           TRUE AS drift_named_column
    FROM events
    GROUP BY event_type
    """,
)
def q219_stream_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto Loader schemaLocation parity, hash-checked end to end
    (VERDICT r9 #5; reference ``src/data_processor.py:182-188``
    ``cloudFiles.schemaLocation`` / ``inferColumnTypes``): the events
    fixture is replayed as JSON files in two waves through a stream
    that starts SCHEMA-LESS — the first start infers the schema from
    the files present and pins it under the checkpoint; the restart
    for wave 2 reuses the pinned schema byte-for-byte (no re-infer
    drift); a third, type-drifting file (``value`` becomes a string)
    must make the evolution path raise :class:`SchemaDriftError`
    NAMING the column. Both verdicts are baked into the hash as
    literal columns, so the oracle comparison fails if inference,
    pinning, restart reuse, or the drift guard ever regress. The
    aggregate itself proves no rows were lost or duplicated across
    the restart (batch-id idempotent sink)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..streaming import (
        SchemaDriftError,
        infer_stream_schema,
        stream_files_to_table,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="stream-infer-")
    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    table_path = os.path.join(root, "state")
    os.makedirs(src)

    def _stage(wave: int, flt):
        stage = os.path.join(root, f"stage{wave}")
        e.filter(flt).coalesce(1).write.json(stage)
        for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.json"))):
            shutil.move(f, os.path.join(src, f"wave-{wave}-{i}.json"))

    pinned_file = os.path.join(ckpt, "inferred_schema.json")

    # the two waves must PARTITION the fixture (the oracle aggregates
    # ALL events): pmod is sign-safe for negative ids and NULL ids
    # route to wave 1 via the null-safe negation — plain `% 2 == 0` /
    # `% 2 == 1` would silently drop NULL and negative user_ids
    even = F.pmod(F.col("user_id"), F.lit(2)) == 0

    # wave 0: schema-less first start → infer + pin
    _stage(0, even)
    q = stream_files_to_table(
        spark, src, table_path, schema=None, stream_id="s219",
        checkpoint=ckpt, max_files_per_trigger=4,
    )
    q.awaitTermination()
    with open(pinned_file) as fh:
        pin_first = fh.read()
    pin_mtime_first = os.stat(pinned_file).st_mtime_ns
    from ..tables import LogTable

    schema_wave0 = LogTable(spark, table_path).schema()

    # wave 1 lands, restart schema-less: the pin is reused, not
    # re-inferred. Byte-equality alone is vacuous (a regression that
    # re-infers the SAME files writes identical JSON), so the check
    # also pins the file's mtime — the restart path must never
    # rewrite the pin — and the post-restart table schema must equal
    # the schema OBJECT wave 0 inferred (r10 ADVICE #5).
    _stage(1, ~even.eqNullSafe(True))
    q = stream_files_to_table(
        spark, src, table_path, schema=None, stream_id="s219",
        checkpoint=ckpt, max_files_per_trigger=4,
    )
    q.awaitTermination()
    with open(pinned_file) as fh:
        pin_second = fh.read()

    state = LogTable(spark, table_path).read()
    pinned_reused = (
        pin_first == pin_second
        and os.stat(pinned_file).st_mtime_ns == pin_mtime_first
        and LogTable(spark, table_path).schema() == schema_wave0
        and sorted(state.columns)
        == ["event_id", "event_type", "user_id", "value"]
    )

    # type drift: value becomes a string → evolution path must raise,
    # naming the column
    with open(os.path.join(src, "drift.json"), "w") as fh:
        fh.write(
            '{"event_id": -1, "user_id": -1, "event_type": "x",'
            ' "value": "not-a-number"}\n'
        )
    try:
        infer_stream_schema(
            spark, src, "json", schema_location=ckpt, allow_evolution=True
        )
        drift_named = False
    except SchemaDriftError as ex:
        drift_named = "'value'" in str(ex)

    return state.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_value"),
    ).select(
        "event_type",
        "n_events",
        "total_value",
        F.lit(bool(pinned_reused)).alias("schema_pinned_reused"),
        F.lit(bool(drift_named)).alias("drift_named_column"),
    )


@query(
    "q220_notification_discovery",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS total_value,
           TRUE AS decoy_invisible,
           TRUE AS duplicate_noop
    FROM events
    WHERE ((user_id % 3) + 3) % 3 IN (0, 1)
    GROUP BY event_type
    """,
)
def q220_notification_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto Loader ``useNotifications`` parity, hash-checked end to end
    (VERDICT r10 #5; reference ``src/data_processor.py:187``,
    ``migration/migrate_from_s3.py:171``): the events fixture is split
    three ways — wave 0 and wave 1 are staged as JSON files and
    NOTIFIED through the queue; a decoy file (the remaining third,
    carrying an extra column) sits in the same data directory and is
    never notified. The stream runs schema-less in notification mode:
    inference samples only the notified files (no ``zzz`` column, no
    directory listing), wave 1 lands via a RESTART that also
    re-notifies a wave-0 file — the at-least-once duplicate must be a
    no-op through the source-file ledger. The oracle aggregates
    exactly the two notified waves, so a decoy leak (listing-mode
    regression), a duplicate double-ingest, or a lost wave all break
    the value hash; both structural verdicts are baked in as literal
    columns."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..streaming import notify_files, stream_files_to_table
    from ..tables import LogTable

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="notify-disc-")
    data_dir = os.path.join(root, "data")
    queue = os.path.join(root, "queue")
    ckpt = os.path.join(root, "ckpt")
    table_path = os.path.join(root, "state")
    os.makedirs(data_dir)

    tile = F.pmod(F.col("user_id"), F.lit(3))

    def _stage(name: str, df) -> list[str]:
        stage = os.path.join(root, f"stage_{name}")
        df.coalesce(1).write.json(stage)
        out = []
        for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.json"))):
            dst = os.path.join(data_dir, f"{name}-{i}.json")
            shutil.move(f, dst)
            out.append(dst)
        return out

    wave0 = _stage("wave0", e.filter(tile.eqNullSafe(0)))
    # decoy: NOT notified, extra column — visible only to a directory
    # listing or a listing-based schema inference
    _stage(
        "decoy",
        e.filter(~(tile.eqNullSafe(0) | tile.eqNullSafe(1)))
        .withColumn("zzz", F.lit(1)),
    )
    notify_files(queue, wave0)

    def _drain():
        q = stream_files_to_table(
            spark, data_dir, table_path, schema=None, stream_id="s220",
            checkpoint=ckpt, max_files_per_trigger=4,
            discovery="notifications", queue_dir=queue,
        )
        q.awaitTermination()

    _drain()
    n_wave0 = LogTable(spark, table_path).read().count()

    # wave 1 + a DUPLICATE notification of a wave-0 file, then restart
    wave1 = _stage("wave1", e.filter(tile.eqNullSafe(1)))
    notify_files(queue, wave1 + [wave0[0]])
    _drain()

    state = LogTable(spark, table_path).read()
    n_expected = e.filter(tile.eqNullSafe(0) | tile.eqNullSafe(1)).count()
    # one scan decides both verdicts (row total + decoy-tile presence)
    in_waves = (
        F.pmod(F.col("user_id"), F.lit(3)).eqNullSafe(0)
        | F.pmod(F.col("user_id"), F.lit(3)).eqNullSafe(1)
    )
    chk = state.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(~in_waves, 1)).alias("n_decoy"),
    ).collect()[0]
    decoy_invisible = (
        sorted(state.columns) == ["event_id", "event_type", "user_id", "value"]
        and chk.n_decoy == 0
    )
    duplicate_noop = chk.n_rows == n_expected and n_wave0 < n_expected

    return state.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("total_value"),
    ).select(
        "event_type",
        "n_events",
        "total_value",
        F.lit(bool(decoy_invisible)).alias("decoy_invisible"),
        F.lit(bool(duplicate_noop)).alias("duplicate_noop"),
    )
