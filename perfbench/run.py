"""Benchmark of the engine's layers on three workloads.

    python3 perfbench/run.py --workload {analytics,table_commits,medallion} \
        --seed N --seconds S --trace {0,1}

Runs from the root of a source checkout: it generates its fixtures,
starts one Spark session at ``local[<cores>]``, seeds and warms up the
workload, then times a fixed number of passes (``--seconds`` divided by
the workload's nominal pass time, at least two). Every op's output is
checked. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a traced run
also prints, one line earlier, those metrics and a per-op breakdown,
each with its sample count).
All files live under ``.perfbench_work/`` in the checkout and are
removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

from stats import commit_bytes, median, percentile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "databricks_delta_lake_migration_spark"
MIN_PASSES = 2
WORKLOAD_NAMES = ("table_commits", "medallion", "analytics")


def _isolate(work: str) -> dict[str, str]:
    """Point every temp and scratch location at ``work``; returns the
    Spark settings that do the same for the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # every JVM, the spark-submit launcher included, keeps its temp and
    # perf-data files out of the system temp directory
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local, TZ="UTC", JAVA_TOOL_OPTIONS=java_opts)
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python
    workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def end_to_end(w, h, setup_s: float) -> dict:
    timed = h.timed()
    per_pass = h.pass_walls()
    walls: dict[tuple[str, str], list[float]] = defaultdict(list)
    seen_in: dict[tuple[str, str], set[int]] = defaultdict(set)
    for r in timed:
        walls[(r.role, r.kind)].append(r.wall)
        seen_in[(r.role, r.kind)].add(r.pass_no)
    # op types that run in every pass; OPTIMIZE (every 5th pass) is left out
    every = {k: v for k, v in walls.items() if len(seen_in[k]) == len(per_pass)}
    st = w.storage()
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(list(per_pass.values())), "s"),
        "read_s": (sum(median(v) for (role, _), v in every.items() if role == "read"), "s"),
        "write_s": (sum(median(v) for (role, _), v in every.items() if role == "write"), "s"),
        "write_amp": (st["write_amp"], "ratio"),
        "space_amp": (st["space_amp"], "ratio"),
    }


def per_layer(w, h, phases: dict, probes: list[dict]) -> tuple[dict, dict]:
    """(per-layer metrics, the same plus a per-op breakdown, each with
    its sample count)."""
    timed = h.timed()
    spans = h.tracer.spans
    passes = sorted({r.pass_no for r in timed})
    n = len(passes)

    def per_pass(values: dict[int, float]) -> float:
        return median([values.get(p, 0.0) for p in passes])

    span_sum = {"build": defaultdict(float), "action": defaultdict(float)}
    ctr_sum: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for r in timed:
        for sid in r.span_ids:
            s = spans[sid]
            if s.name in span_sum:
                span_sum[s.name][r.pass_no] += s.end - s.start
        for k, v in r.spark.items():
            ctr_sum[k][r.pass_no] += v
    run_s = sum(r.spark["run_s"] for r in timed)
    cov_s = sum(r.spark["covered_s"] for r in timed)
    writes = [r.wall for r in timed if r.role == "write"]
    reads = [r.wall for r in timed if r.role == "read"]
    commits = [(c, size) for p, _, c, size in w.commits if p >= 0]
    added = [commit_bytes(c) for c, _ in commits]
    st = w.storage()
    m = {
        "session.start_s": (phases["session"], "s", 1),
        "setup.seed_s": (phases["seed"], "s", 1),
        "setup.warmup_s": (phases["warmup"], "s", 1),
        "op.build_s": (per_pass(span_sum["build"]), "s", n),
        "op.action_s": (per_pass(span_sum["action"]), "s", n),
        "spark.jobs": (per_pass(ctr_sum["jobs"]), "count", n),
        "spark.tasks": (per_pass(ctr_sum["tasks"]), "count", n),
        "spark.executor_run_s": (per_pass(ctr_sum["run_s"]), "s", n),
        "spark.executor_cpu_s": (per_pass(ctr_sum["cpu_s"]), "s", n),
        "spark.stage_covered_s": (per_pass(ctr_sum["covered_s"]), "s", n),
        "spark.parallelism": (run_s / cov_s if cov_s else 0.0, "ratio", len(timed)),
        "spark.driver_only_s": (per_pass(ctr_sum["driver_only_s"]), "s", n),
        "spark.shuffle_bytes": (per_pass(ctr_sum["shuffle_bytes"]), "bytes", n),
        "tables.write_p50_s": (percentile(writes, 50), "s", len(writes)),
        "tables.write_p90_s": (percentile(writes, 90), "s", len(writes)),
        "tables.read_p50_s": (percentile(reads, 50), "s", len(reads)),
        "tables.read_p90_s": (percentile(reads, 90), "s", len(reads)),
        "tables.commits": (len(commits) / n, "count", n),
        "tables.bytes_added": (sum(b for b, _ in added) / n, "bytes", n),
        "tables.rewrite_bytes": (sum(b for b, ins in added if not ins) / n, "bytes", n),
        "tables.log_bytes_per_commit": (sum(s for _, s in commits) / max(1, len(commits)), "bytes", len(commits)),
        "tables.files_live": (st["files_live"], "count", 1),
        "tables.open_s": (median([p["open_s"] for p in probes]), "s", len(probes)),
        "tables.plan_s": (median([p["plan_s"] for p in probes]), "s", len(probes)),
        "tables.files_scanned_per_read": (median([p["files_read"] for p in probes]), "count", len(probes)),
    }

    # every per-layer metric also goes to the detail line with its sample count
    detail = {k: {"value": v, "unit": u, "n": c} for k, (v, u, c) in m.items()}

    def put(name, values, unit, stat=median):
        if values:
            detail[name] = {"value": stat(values), "unit": unit, "n": len(values)}

    kinds: dict[str, list] = defaultdict(list)
    for r in timed:
        kinds[r.kind].append(r)
    for kind, rs in kinds.items():
        layer = w.layer(kind)
        walls = [r.wall for r in rs]
        put(f"{layer}.{kind}.p50_s", walls, "s")
        put(f"{layer}.{kind}.p90_s", walls, "s", lambda xs: percentile(xs, 90))
        for sp in ("build", "action"):
            put(f"{layer}.{kind}.{sp}_s",
                [sum(spans[i].end - spans[i].start for i in r.span_ids if spans[i].name == sp)
                 for r in rs], "s")
        put(f"spark.{kind}.jobs", [r.spark["jobs"] for r in rs], "count")
        put(f"spark.{kind}.driver_only_s", [r.spark["driver_only_s"] for r in rs], "s")
        put(f"spark.{kind}.shuffle_bytes", [r.spark["shuffle_bytes"] for r in rs], "bytes")
        put(f"spark.{kind}.parallelism",
            [r.spark["run_s"] / r.spark["covered_s"] for r in rs if r.spark["covered_s"] > 0], "ratio")
    # pass_s of the traced run; its excess over an untraced run's pass_s
    # is the tracing overhead
    put("pass_s", list(h.pass_walls().values()), "s")
    put("spark.failed_tasks", [sum(r.spark["failed_tasks"] for r in timed)], "count")
    by_op: dict[tuple[int, str], list[tuple[int, bool]]] = defaultdict(list)
    for p, kind, c, _ in w.commits:
        if p >= 0:
            by_op[(p, kind)].append(commit_bytes(c))
    for kind in sorted({k for _, k in by_op}):
        ops = [v for (_, k), v in by_op.items() if k == kind]
        put(f"tables.{kind}.bytes_written", [sum(b for b, _ in v) for v in ops], "bytes")
        put(f"tables.{kind}.rewrite_bytes", [sum(b for b, ins in v if not ins) for v in ops], "bytes")
    stream = [(t, prs) for p, t, prs in w.stream_progress if p >= 0]
    put("streaming.batch_s", [pr["durationMs"]["triggerExecution"] / 1000.0
                              for _, prs in stream for pr in prs if pr["numInputRows"]], "s")
    put("streaming.start_s", [_epoch(prs[0]["timestamp"]) - t for t, prs in stream if prs], "s")
    return {k: (v, u) for k, (v, u, _) in m.items()}, detail


def _spin_s() -> float:
    """Host-speed probe: a fixed single-thread interpreter loop. The
    benchmark's times move with the host (shared machines have shown
    2x swings within minutes); this number, printed beside them, shows
    the host's state but is never used to adjust them."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def _summary(h, spin: tuple[float, float]) -> None:
    """Per-pass and per-op wall times on stderr, for reading a run."""
    print(f"perfbench: host spin_s start {spin[0]:.4f} end {spin[1]:.4f}", file=sys.stderr)
    walls = h.pass_walls(warmup=True)
    print("perfbench: pass walls " + " ".join(f"{p}:{t:.3f}" for p, t in sorted(walls.items())),
          file=sys.stderr)
    kinds: dict[str, list[float]] = defaultdict(list)
    for r in h.records:
        kinds[r.kind].append(round(r.wall, 3))
    for k, ws in kinds.items():
        print(f"perfbench: {k} {ws}", file=sys.stderr)


def _epoch(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Engine benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _run_all(args)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    if os.path.exists(work):
        shutil.rmtree(work)
    conf = _isolate(work)
    sys.path.insert(0, ROOT)

    import fixtures
    from harness import Harness
    from oracles import load_expected
    from workloads import WORKLOADS

    from databricks_delta_lake_migration_spark.session import build_session

    cls = WORKLOADS[args.workload]
    spark = None
    try:
        phases = {}
        spin_start = _spin_s()
        t = time.perf_counter()
        sf_dir = None
        if cls.sf is not None:
            sf_dir = os.path.join(work, "fixtures")
            fixtures.write(cls.sf, sf_dir)
        t_fix = time.perf_counter() - t

        t = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        spark = build_session(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        phases["session"] = time.perf_counter() - t

        t = time.perf_counter()
        h = Harness(spark, trace=bool(args.trace))
        w = cls(spark, h, work, args.seed, sf_dir, load_expected())
        w.seed()
        phases["seed"] = t_fix + time.perf_counter() - t

        t = time.perf_counter()
        n_pass = max(MIN_PASSES, round(args.seconds / cls.nominal_pass_s))
        probes = []
        for i in range(cls.warmup_passes + n_pass):
            if i == cls.warmup_passes:
                phases["warmup"] = time.perf_counter() - t
                setup_s = time.perf_counter() - T_START
            h.pass_no = i - cls.warmup_passes
            w.run_pass()
            w.pass_idx += 1
            if args.trace and h.pass_no >= 0:
                probes.append(_probe(spark, *w.probe()))

        _summary(h, (spin_start, _spin_s()))
        if args.trace:
            metrics, detail = per_layer(w, h, phases, probes)
            print(json.dumps({"detail": detail}, sort_keys=True))
        else:
            metrics = end_to_end(w, h, setup_s)
        result = {
            "correct": h.failed == 0,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run_all(args) -> int:
    """Every workload, each in its own process; prints each result,
    then one summary whose metrics are named ``<workload>.<metric>``."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        sys.stderr.write(p.stderr)
        if p.returncode != 0:
            print(f"perfbench: {name} exited with {p.returncode}", file=sys.stderr)
            return p.returncode
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"{name}: {json.dumps(res)}")
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def _probe(spark, root: str, where: str) -> dict:
    """Cold-handle costs on a workload table: open (log listing and
    replay up to the version), plan (read(where=) up to the built
    DataFrame) and files kept by stats pruning."""
    from databricks_delta_lake_migration_spark.tables import LogTable

    t = time.perf_counter()
    LogTable(spark, root).version()
    open_s = time.perf_counter() - t
    t = time.perf_counter()
    LogTable(spark, root).read(where=where)
    plan_s = time.perf_counter() - t
    files = LogTable(spark, root).prune_stats(where)["files_read"]
    return {"open_s": open_s, "plan_s": plan_s, "files_read": files}


if __name__ == "__main__":
    sys.exit(main())
