"""The three benchmark workloads.

Each workload is driven as a closed loop by one client: a pass is a
fixed sequence of ops, every op goes through :meth:`Harness.op` (timed,
then checked untimed), and every pass does the same work as the one
before it. The seed picks the analytics query order, the point-read
ranges and the changed customers of the SCD2 snapshot; the fixtures
and the rows table_commits writes never depend on it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from databricks_delta_lake_migration_spark.plans import MedallionPipeline
from databricks_delta_lake_migration_spark.queries import all_queries
from databricks_delta_lake_migration_spark.queries.registry import load_table
from databricks_delta_lake_migration_spark.streaming import stream_files_to_table
from databricks_delta_lake_migration_spark.tables import LogTable
from databricks_delta_lake_migration_spark.tables.logtable import LOG_DIR
from fixtures import ANALYTICS_SF, MEDALLION_SF
from harness import Harness, require
from oracles import ANALYTICS_QUERIES, canonical_hash
from pyspark.sql import functions as F
from pyspark.sql import types as T
from stats import disk_bytes, space_amp, write_amp


class Workload:
    name = ""
    sf: float | None = None  # fixture scale, None when fixtures are unused
    warmup_passes = 1
    nominal_pass_s = 1.0  # sets the pass count for a given --seconds
    # (pass_no, call time, the query's progress reports) per stream op
    stream_progress: tuple | list = ()

    def __init__(self, spark, h: Harness, work: str, seed: int, sf_dir: str | None, expected: dict | None):
        self.spark = spark
        self.h = h
        self.work = work
        self.rng = random.Random(seed)
        self.sf_dir = sf_dir
        self.expected = expected
        self.pass_idx = 0  # counts warm-up passes too
        # (pass_no, op kind, Commit, log-file bytes) of every commit observed
        self.commits: list[tuple[int, str | None, object, int]] = []
        self._seen: dict[str, int] = {}

    def seed(self) -> None:
        """Untimed state the passes start from (counted in setup_s)."""

    def run_pass(self) -> None:
        raise NotImplementedError

    def roots(self) -> list[str]:
        """Table roots that space_amp and files_live are taken over."""
        raise NotImplementedError

    def probe(self) -> tuple[str, str]:
        """(table root, predicate) for the cold-open/plan probes."""
        raise NotImplementedError

    def layer(self, kind: str) -> str:
        """The package layer an op type calls into, for the trace detail."""
        return "tables"

    # ---- bookkeeping (untimed) ----------------------------------------

    def observe(self, root: str) -> None:
        """Record the commits landed on ``root`` since the last call,
        read through a fresh handle (a long-lived handle can miss
        commits across log pruning)."""
        last = self._seen.get(root, -1)
        for c in LogTable(self.spark, root).commits():
            if c.version > last:
                size = os.path.getsize(os.path.join(root, LOG_DIR, f"{c.version:020d}.json"))
                self.commits.append((self.h.pass_no, self.h.kind, c, size))
                last = c.version
        self._seen[root] = last

    def storage(self) -> dict:
        timed = [c for p, _, c, _ in self.commits if p >= 0]
        roots = self.roots()
        details = [LogTable(self.spark, r).detail() for r in roots]
        return {
            "write_amp": write_amp(timed),
            "space_amp": space_amp(sum(disk_bytes(r) for r in roots),
                                   sum(d["sizeInBytes"] for d in details)),
            "files_live": sum(d["numFiles"] for d in details),
        }


# ---------------------------------------------------------------------------


class Analytics(Workload):
    """Seven registered queries over the parquet fixtures, in a seeded
    order, then a small append of the q05 report to a history table."""

    name = "analytics"
    sf = ANALYTICS_SF
    warmup_passes = 1
    nominal_pass_s = 7.0
    REPORT_SCHEMA = T.StructType([
        T.StructField("pass", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("r_name", T.StringType()),
        T.StructField("revenue", T.DoubleType()),
    ])

    def seed(self):
        reg = all_queries()
        self.order = self.rng.sample(ANALYTICS_QUERIES, len(ANALYTICS_QUERIES))
        self.fns = {q: reg[q].fn for q in self.order}
        self.want = self.expected["analytics"]["results"]
        self.report = os.path.join(self.work, "tables", "report")
        LogTable.create(self.spark, self.report, self.REPORT_SCHEMA)
        self.report_rows = 0

    def roots(self):
        return [self.report]

    def probe(self):
        return self.report, "pass = 0"

    def layer(self, kind):
        return "tables" if kind == "publish" else "queries"

    def run_pass(self):
        h = self.h
        results = {}
        for q in self.order:
            def fn(q=q):
                with h.span("build"):
                    df = self.fns[q](self.spark, self.sf_dir)
                with h.span("action"):
                    return df.columns, df.collect()

            def check(out, q=q):
                require(canonical_hash(*out) == self.want[q]["hash"],
                        f"{q}: result differs from its DuckDB oracle ({len(out[1])} rows)")

            results[q] = h.op(q, "read", fn, check)

        q05 = results["q05_nation_revenue"]
        rows = [(self.pass_idx, *r) for r in q05[1]] if q05 else []

        def publish():
            with h.span("build"):
                df = self.spark.createDataFrame(rows, self.REPORT_SCHEMA)
            with h.span("action"):
                LogTable(self.spark, self.report).append(df)

        def check(_):
            self.observe(self.report)
            require(rows, "no q05 rows to publish")
            self.report_rows += len(rows)
            n = LogTable(self.spark, self.report).detail()["numRecords"]
            require(n == self.report_rows, f"report holds {n} rows, expected {self.report_rows}")

        h.op("publish", "write", publish, check)


# ---------------------------------------------------------------------------


class TableCommits(Workload):
    """A sliding window of 20 batches × 2,000 rows on one LogTable with
    the default checkpoint interval and zero log retention, so
    checkpoints and log pruning cycle, plus a file stream into a second
    table."""

    name = "table_commits"
    warmup_passes = 4
    nominal_pass_s = 1.8
    BATCHES, ROWS = 20, 2_000
    STREAM_FILES, STREAM_ROWS = 2, 500
    OPTIMIZE_EVERY = 5
    POINT_READS = 3
    TIME_TRAVEL_BACK = (3, 6)  # commits behind the head
    STREAM_SCHEMA = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("v", T.LongType()),
    ])

    def seed(self):
        tdir = os.path.join(self.work, "tables")
        self.main = os.path.join(tdir, "main")
        self.sink = os.path.join(tdir, "stream")
        self.src = os.path.join(self.work, "stream_src")
        self.ckpt = os.path.join(self.work, "stream_ckpt")
        os.makedirs(self.src)
        LogTable.create(
            self.spark, self.main,
            T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("batch", T.LongType()),
                T.StructField("v", T.LongType()),
            ]),
            properties={"delta.logRetentionDuration": "interval 0 hours"},
        )
        self.writer = LogTable(self.spark, self.main)
        # model of the live rows: ids [lo, hi) are contiguous, v[id - lo]
        self.lo = self.hi = 0
        self.v: list[int] = []
        self.history: list[tuple[int, int, int]] = []  # (version, rows, sum v)
        self.streamed = 0
        self.stream_progress = []
        self._append(0, self.BATCHES)  # one commit, one file per batch
        self.observe(self.main)
        self._remember()

    def roots(self):
        return [self.main, self.sink]

    def probe(self):
        return self.main, f"id >= {self.hi - self.ROWS} AND id < {self.hi}"

    # ---- model ----------------------------------------------------------

    def _remember(self):
        self.history.append((self._seen[self.main], self.hi - self.lo, sum(self.v)))

    def _check_live(self, _=None):
        self.observe(self.main)
        n, s = LogTable(self.spark, self.main).read().agg(F.count(F.lit(1)), F.sum("v")).first()
        require((n, s or 0) == (self.hi - self.lo, sum(self.v)),
                f"table holds {n} rows / sum {s}, model {self.hi - self.lo} / {sum(self.v)}")
        self._remember()

    def _append(self, first: int, n: int = 1):
        """Append batches ``first`` .. ``first + n - 1``, one file each."""
        lo, hi = first * self.ROWS, (first + n) * self.ROWS
        df = self.spark.range(lo, hi, numPartitions=n).select(
            "id", (F.col("id") / self.ROWS).cast("long").alias("batch"), (F.col("id") % 1000).alias("v"))
        self.writer.append(df)
        self.v += [i % 1000 for i in range(lo, hi)]
        self.hi = hi

    # ---- pass ------------------------------------------------------------

    def run_pass(self):
        h, spark = self.h, self.spark
        newest = self.hi // self.ROWS

        def append():
            with h.span("action"):
                self._append(newest)

        h.op("append", "write", append, self._check_live)

        # 2,000 existing keys, half in each of the two newest batches. Keys
        # and values do not depend on the seed, so every seed writes the
        # same bytes and write_amp / space_amp repeat exactly; the seed
        # picks the point-read ranges.
        a = self.hi - 3 * self.ROWS // 2
        ids = range(a, a + self.ROWS)
        bump = self.pass_idx + 1

        def upsert():
            with h.span("build"):
                src = spark.range(a, a + self.ROWS, numPartitions=1).select(
                    "id", (F.col("id") / self.ROWS).cast("long").alias("batch"),
                    ((F.col("id") + bump) % 1000).alias("v"))
            with h.span("action"):
                self.writer.upsert(src, ["id"])

        def check_upsert(_):
            for i in ids:
                self.v[i - self.lo] = (i + bump) % 1000
            self._check_live()

        h.op("upsert", "write", upsert, check_upsert)

        oldest = self.lo // self.ROWS

        def delete():
            with h.span("action"):
                self.writer.delete(f"batch = {oldest}")

        def check_delete(_):
            self.v = self.v[self.ROWS:]
            self.lo += self.ROWS
            self._check_live()

        h.op("delete", "write", delete, check_delete)

        # several reads per pass: each is short, so the per-type median
        # needs more samples than one per pass to hold still
        for _ in range(self.POINT_READS):
            p = self.lo + self.rng.randrange(0, self.hi - self.lo - 100)

            def point_read(p=p):
                with h.span("build"):
                    df = LogTable(spark, self.main).read(where=f"id >= {p} AND id < {p + 100}")
                with h.span("action"):
                    return df.collect()

            def check_point(rows, p=p):
                require(len(rows) == 100, f"point read returned {len(rows)} rows, expected 100")
                require(sum(r.v for r in rows) == sum(self.v[p - self.lo:p + 100 - self.lo]),
                        "point read values differ from the model")

            h.op("point_read", "read", point_read, check_point)

        for back in self.TIME_TRAVEL_BACK:
            version, n_want, s_want = self.history[-min(back + 1, len(self.history))]

            def time_travel(version=version):
                with h.span("build"):
                    df = LogTable(spark, self.main).read(version=version)
                with h.span("action"):
                    return df.agg(F.count(F.lit(1)), F.sum("v")).first()

            def check_tt(row, version=version, want=(n_want, s_want)):
                require((row[0], row[1]) == want, f"version {version} reads {tuple(row)}, recorded {want}")

            h.op("time_travel", "read", time_travel, check_tt)

        self._land_stream_files()
        stream_info = {}

        def stream():
            with h.span("action"):
                q = stream_files_to_table(
                    spark, self.src, self.sink, schema=self.STREAM_SCHEMA,
                    stream_id="bench", checkpoint=self.ckpt, available_now=True)
                h.also_count_group(str(q.runId))
                q.awaitTermination()
            stream_info["progress"] = [dict(p) for p in q.recentProgress]

        def check_stream(_):
            self.observe(self.sink)
            n = LogTable(spark, self.sink).read().count()
            require(n == self.streamed, f"stream table holds {n} rows, landed {self.streamed}")

        t_call = time.time()
        h.op("stream", "write", stream, check_stream)
        self.stream_progress.append((h.pass_no, t_call, stream_info.get("progress", [])))

        if self.pass_idx % self.OPTIMIZE_EVERY == self.OPTIMIZE_EVERY - 1:
            h.op("optimize", "write", lambda: self.writer.optimize(), self._check_live)

    def _land_stream_files(self):
        for j in range(self.STREAM_FILES):
            path = os.path.join(self.src, f"part-{self.pass_idx:05d}-{j}.json")
            with open(path + ".tmp", "w") as f:
                for i in range(self.STREAM_ROWS):
                    k = self.streamed + i
                    f.write(json.dumps({"id": k, "v": k % 97}) + "\n")
            os.replace(path + ".tmp", path)
            self.streamed += self.STREAM_ROWS


# ---------------------------------------------------------------------------


class Medallion(Workload):
    """The reference notebook DAG on a fresh root each pass: bronze and
    silver events and transactions, an SCD2 users load plus one day-2
    MERGE, the five gold products, and a read-back of the gold tables."""

    name = "medallion"
    sf = MEDALLION_SF
    warmup_passes = 1
    nominal_pass_s = 12.0
    TS1, TS2 = "2024-03-01 00:00:00", "2024-03-02 00:00:00"
    STAGES = ("bronze", "silver", "bronze_tx", "silver_tx", "users_init", "users_scd2", "gold_products")

    def seed(self):
        cust = pq.read_table(os.path.join(self.sf_dir, "customer.parquet"))
        keys = cust.column("c_custkey").to_pylist()
        changed = set(self.rng.sample(keys, len(keys) // 10))
        mask = [k in changed for k in keys]
        bal = pc.if_else(mask, pc.round(pc.add(cust.column("c_acctbal"), 100.0), 2), cust.column("c_acctbal"))
        self.day2_dir = os.path.join(self.work, "day2")
        os.makedirs(self.day2_dir)
        pq.write_table(cust.set_column(cust.schema.get_field_index("c_acctbal"), "c_acctbal", bal),
                       os.path.join(self.day2_dir, "customer.parquet"))
        counts = self.expected["medallion"]["fixture_rows"]
        self.want_rows = {
            "bronze_events": counts["events"], "silver_events": counts["events"],
            "bronze_transactions": counts["orders"], "silver_transactions": counts["orders"],
            "silver_users": counts["customer"] + len(changed),
        }
        self.n_customers = counts["customer"]
        self.n_premium = sum(1 for b in bal.to_pylist() if b > 5000)
        self.want_gold = self.expected["medallion"]["results"]
        self.root = None

    def roots(self):
        return sorted(os.path.join(self.root, d) for d in os.listdir(self.root))

    def probe(self):
        return os.path.join(self.root, "silver_users"), "user_id >= 0 AND user_id < 100"

    def layer(self, kind):
        return "tables" if kind == "gold_read" else "plans"

    def run_pass(self):
        h, spark = self.h, self.spark
        if self.root is not None:
            shutil.rmtree(self.root)
        self.root = os.path.join(self.work, "medallion", f"p{self.pass_idx}")
        pipe = MedallionPipeline(spark, self.root)

        def raw(sf_dir, name):
            with h.span("build"):
                return load_table(spark, sf_dir, name)

        stages = {
            "bronze": lambda: pipe.run_bronze(raw(self.sf_dir, "events"), self.TS1),
            "silver": pipe.run_silver,
            "bronze_tx": lambda: pipe.run_bronze_transactions(raw(self.sf_dir, "orders"), self.TS1),
            "silver_tx": pipe.run_silver_transactions,
            "users_init": lambda: pipe.run_silver_users(raw(self.sf_dir, "customer"), self.TS1),
            "users_scd2": lambda: pipe.run_silver_users(raw(self.day2_dir, "customer"), self.TS2),
            "gold_products": pipe.run_gold_products,
        }
        def observe_all(_):
            for r in self.roots():
                self.observe(r)

        for name in self.STAGES:
            def fn(name=name):
                with h.span("action"):
                    stages[name]()
            h.op(name, "write", fn, observe_all)

        gold = ["gold_user_ltv", *self.want_gold]

        def gold_read():
            with h.span("build"):
                dfs = {g: LogTable(spark, os.path.join(self.root, g)).read() for g in gold}
            with h.span("action"):
                return {g: (df.columns, df.collect()) for g, df in dfs.items()}

        def check(out):
            for g, want in self.want_gold.items():
                require(canonical_hash(*out[g]) == want["hash"],
                        f"{g}: differs from its DuckDB oracle ({len(out[g][1])} rows)")
            cols, rows = out["gold_user_ltv"]
            prem = cols.index("is_premium")
            require(len(rows) == self.n_customers, f"gold_user_ltv has {len(rows)} rows")
            require(sum(1 for r in rows if r[prem]) == self.n_premium,
                    "gold_user_ltv premium count differs from the day-2 snapshot")
            for t, n in self.want_rows.items():
                got = LogTable(spark, os.path.join(self.root, t)).detail()["numRecords"]
                require(got == n, f"{t} holds {got} rows, expected {n}")

        h.op("gold_read", "read", gold_read, check)


WORKLOADS = {w.name: w for w in (Analytics, TableCommits, Medallion)}
