"""Expected results for the benchmark's correctness checks.

``expected.json`` holds order-insensitive canonical hashes of the
analytics queries and the medallion gold products on the benchmark
fixtures, generated from the DuckDB oracle SQL registered beside each
query. Benchmark runs compare Spark's results against these hashes
without running DuckDB. Re-verify (or, with ``--write``, regenerate)
them from DuckDB with::

    python3 perfbench/oracles.py [--write]

The q36 oracle is quadratic in the corpus, which is why it never runs
inside a benchmark run.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")

ANALYTICS_QUERIES = (
    "q01_pricing_summary", "q05_nation_revenue", "q06_revenue_forecast",
    "q18_sessionization", "q36_minhash_lsh_pairs", "q44_batch_topk",
    "q201_exact_substring_profile",
)
# gold table written by MedallionPipeline.run_gold_products → the
# registered query whose oracle reproduces it from the raw fixtures
GOLD_ORACLES = {
    "gold_daily_user_activity": "q70_medallion_gold",
    "gold_transaction_analytics": "q84_medallion_tx_analytics",
    "gold_cohort_analysis": "q86_medallion_cohorts",
    "gold_daily_kpis": "q87_medallion_daily_kpis",
}


def _cell(v):
    """Canonical value, as tests/test_oracle_parity.py canonicalises
    cells, plus one number form so that equal values hash equally
    whether an engine returns them as int, float or Decimal."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        v = round(v, 9) + 0.0
        return int(v) if v.is_integer() and abs(v) < 2**53 else v
    if isinstance(v, (dt.date, dt.datetime, dt.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    return v


def canonical_hash(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(json.dumps([_cell(r[i]) for i in order]) for r in rows)
    doc = json.dumps({"cols": [cols[i] for i in order], "rows": body})
    return hashlib.sha256(doc.encode()).hexdigest()


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def _duckdb_hashes(sf_dir: str, names: dict[str, str]) -> dict[str, dict]:
    import duckdb

    from databricks_delta_lake_migration_spark.queries import all_queries

    import fixtures

    reg = all_queries()
    con = duckdb.connect()
    for t in fixtures.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for key, qname in names.items():
        res = con.execute(reg[qname].oracle)
        rows = res.fetchall()
        out[key] = {"hash": canonical_hash([d[0] for d in res.description], rows), "rows": len(rows)}
        print(f"{key}: {len(rows)} rows", file=sys.stderr)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true", help="rewrite expected.json")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)

    import fixtures

    work = os.path.join(ROOT, ".perfbench_work", f"oracles-{os.getpid()}")
    try:
        got = {}
        for label, sf, names in (
            ("analytics", fixtures.ANALYTICS_SF, {q: q for q in ANALYTICS_QUERIES}),
            ("medallion", fixtures.MEDALLION_SF, GOLD_ORACLES),
        ):
            d = os.path.join(work, label)
            counts = fixtures.write(sf, d)
            got[label] = {"sf": sf, "fixture_rows": counts, "results": _duckdb_hashes(d, names)}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.write:
        with open(EXPECTED, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {EXPECTED}")
        return 0
    want = load_expected()
    bad = [f"{label}/{k}" for label in got for k in got[label]
           if got[label][k] != want.get(label, {}).get(k)]
    print("oracles: " + ("MISMATCH " + ", ".join(bad) if bad else "all match expected.json"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
