"""Streaming ingestion (T1-T3 — reference
``src/data_processor.py:159-200``, ``01_bronze_ingestion.py:205-229``).

The reference uses Databricks Auto Loader (``cloudFiles``); the OSS
replacement is Spark's built-in file streaming source with an explicit
schema (SURVEY §7.4 item 3) plus ``maxFilesPerTrigger`` rate limiting.
Every ``stream_*`` writer starts through one runner, :func:`_run`: a
checkpointed file stream whose ``foreachBatch`` sink (:func:`_sink`)
writes into :class:`LogTable` targets exactly once. Each micro-batch
commit records its stream id and batch id in the table's commit log,
and the log folds each stream's last batch id into every snapshot and
checkpoint (Delta's ``txn``; see ``tables/log.py``). A re-delivered
batch (after a crash between the table commit and the checkpoint
advance) finds its id in the snapshot and is skipped, also after log
pruning has deleted its commit — the transactional-sink contract the
Delta sink implements.

[EXT] streaming analytics (watermarks + event-time windows) is exposed
via :func:`windowed_counts`; the reference itself is ingest-only
(SURVEY §2.11).
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..tables import LogTable
from ..tables.fsio import LOCAL_FS
from ..tables.log import Snapshot, stream_params
from ..tables.logtable import MergeBuilder, _Transaction


class SchemaDriftError(ValueError):
    """An existing column's inferred type no longer matches the pinned
    stream schema (Auto Loader fails the stream on type change too —
    only brand-new columns are adoptable). Names the offending column
    so the operator can route the bad files or re-pin deliberately."""


# Test seam: when a test sets this to a list, every append sink in
# this module records each micro-batch's EXECUTED physical plan string
# before writing. AQE is disabled inside foreachBatch
# (ResolveWriteToStream), so join strategies there are decided by
# STATIC size estimates alone — the probe lets tests pin e.g. that
# stream_enrich's metadata-sized dim still broadcasts without a forced
# hint (VERDICT r10 #4). None (production) costs nothing.
_SINK_PLAN_PROBE: list[str] | None = None


def _append_batch(
    tbl: LogTable,
    snap: Snapshot,
    df: DataFrame,
    stream_id: str,
    batch_id: int,
    operation: str = "STREAMING UPDATE",
    source_files: list[str] | None = None,
) -> None:
    """The one micro-batch append path, committed against ``snap``, the
    snapshot the batch guard read. A batch is ingested like an append
    (the table's ``_ingest`` in one ``_Transaction``): it is aligned to
    the schema with identity, generated-column and default values,
    checked against CHECK and NOT NULL constraints (a violation fails
    the batch and deletes its files), written through the write-tuning
    seam and, on a change-feed table, recorded as insert rows. The
    commit records the batch, and a notification batch's
    ``source_files``, in the log's exactly-once ledger, and rebases
    like any blind append; a racing commit of the same batch is
    refused."""
    if _SINK_PLAN_PROBE is not None:
        _SINK_PLAN_PROBE.append(df._jdf.queryExecution().executedPlan().toString())
    with _Transaction(tbl, snap) as tx:
        entries, fields = tbl._ingest(tx, df)
        tx.commit(
            operation,
            add=entries,
            parameters=stream_params(stream_id, batch_id, source_files),
            metrics={"numOutputRows": sum(e.num_records for e in entries)},
            **fields,
        )


def _sink(
    spark: SparkSession, targets: dict[str, str], stream_id: str, batch: Callable
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function of stream ``stream_id`` into the
    tables ``targets`` maps to the operation their appends commit as.
    ``batch(batch_df, *tables)`` returns per target (bare for one) a
    DataFrame to append, a ``(DataFrame, source files)`` pair for a
    notification batch, a :class:`MergeBuilder` to execute, or None.

    The batch guard reads each target's snapshot once and skips a
    target whose ledger holds this batch id or a later one (``batch``
    is not called when all are skipped); an append commits against
    that snapshot. A missing target is created from its first append."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tables = [LogTable(spark, p) for p in targets]
        snaps: list[Snapshot | None] = []
        for tbl in tables:
            try:
                snaps.append(tbl._replay())
            except FileNotFoundError:
                snaps.append(None)
        due = [s is None or batch_id > s.txns.get(stream_id, -1) for s in snaps]
        if not any(due):
            return  # exactly-once: the batch was already committed
        outs = batch(batch_df, *tables)
        if len(tables) == 1:
            outs = (outs,)
        for tbl, snap, op, out, todo in zip(tables, snaps, targets.values(), outs, due):
            if not todo or out is None:
                continue
            if isinstance(out, MergeBuilder):
                out.with_commit_params(**stream_params(stream_id, batch_id)).execute()
                continue
            df, files = out if isinstance(out, tuple) else (out, None)
            if snap is None:
                tbl = LogTable.create(spark, tbl.path, df.schema)
                snap = tbl._replay()
            _append_batch(tbl, snap, df, stream_id, batch_id, op, files)

    return sink


def _run(
    spark: SparkSession, source_path: str, schema: T.StructType, file_format: str,
    max_files_per_trigger: int, checkpoint: str | None, available_now: bool,
    stream_id: str, targets: dict[str, str], batch: Callable,
    prepare: Callable[[DataFrame], DataFrame] | None = None, mode: str = "append",
) -> StreamingQuery:
    """Start the file stream over ``source_path``, ``prepare`` applied,
    into :func:`_sink`'s ``targets`` in output ``mode``: drained once
    with ``available_now``, else on a 30-second processing-time trigger
    (data_processor.py:190-197)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .format(file_format)
        .load(source_path)
    )
    if prepare is not None:
        stream = prepare(stream)
    writer = stream.writeStream.foreachBatch(
        _sink(spark, targets, stream_id, batch)
    ).outputMode(mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()


def infer_stream_schema(
    spark: SparkSession,
    source_path: str,
    file_format: str = "json",
    schema_location: str | None = None,
    allow_evolution: bool = False,
    paths: list[str] | None = None,
) -> T.StructType:
    """Auto Loader-style schema inference for the file stream (T3 —
    the OSS replacement for ``cloudFiles.schemaLocation``,
    data_processor.py:182-188): infer once from the files already in
    ``source_path`` with the batch reader, persist the result under
    ``schema_location``, and reload it on every restart — the stream's
    schema stays pinned as new files arrive, exactly the contract Auto
    Loader's schema location provides.

    ``allow_evolution=True`` is the ``addNewColumns`` analog: on
    restart, re-infer and APPEND any brand-new columns to the pinned
    schema — widening is additive only, never a type change: an
    existing column whose re-inferred type conflicts with the pin
    raises :class:`SchemaDriftError` NAMING the column (Auto Loader
    fails the stream on type drift too; silently keeping the pinned
    type would null out the drifted values at parse time). The evolved
    schema persists back.

    ``paths`` restricts inference to an explicit file list instead of
    listing ``source_path`` — the notification-discovery mode uses it
    so schema inference never lists the data directory either (Auto
    Loader samples notified files the same way)."""
    stored = (
        os.path.join(schema_location, "inferred_schema.json")
        if schema_location
        else None
    )

    def _save(schema: T.StructType) -> None:
        os.makedirs(schema_location, exist_ok=True)
        LOCAL_FS.write_text(stored, json.dumps(schema.jsonValue()))

    def _infer() -> T.StructType:
        reader = spark.read.format(file_format)
        if file_format == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        return reader.load(paths if paths is not None else source_path).schema

    if stored and os.path.exists(stored):
        with open(stored) as fh:
            pinned = T.StructType.fromJson(json.load(fh))
        if not allow_evolution:
            return pinned
        by_name = {f.name: f for f in pinned.fields}
        inferred = _infer().fields
        drifted = [
            f for f in inferred
            if f.name in by_name and f.dataType != by_name[f.name].dataType
        ]
        if drifted:
            f = drifted[0]
            raise SchemaDriftError(
                f"stream schema drift on column {f.name!r}: pinned "
                f"{by_name[f.name].dataType.simpleString()}, files now "
                f"infer {f.dataType.simpleString()} — type changes are "
                "not adoptable; quarantine the offending files or "
                f"delete {stored} to re-pin deliberately"
            )
        new = [f for f in inferred if f.name not in by_name]
        if not new:
            return pinned
        evolved = T.StructType(list(pinned.fields) + new)
        _save(evolved)
        return evolved

    schema = _infer()
    if stored:
        _save(schema)
    return schema


def stream_files_to_table(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    schema: T.StructType | None = None,
    file_format: str = "json",
    stream_id: str = "default",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 10,
    available_now: bool = True,
    transform=None,
    schema_evolution: bool = False,
    discovery: str = "listing",
    queue_dir: str | None = None,
) -> StreamingQuery:
    """File stream → checkpointed append into a log table.

    ``schema=None`` infers it via :func:`infer_stream_schema`, pinned
    under the checkpoint dir when one is given (restart-stable);
    ``schema_evolution=True`` additionally adopts brand-new columns on
    restart (Auto Loader ``addNewColumns``) — the pinned schema widens
    and the target table gets a metadata-only ADD COLUMNS commit, so
    earlier rows surface NULL for the new columns.
    ``available_now=True`` drains everything currently in the source
    then stops (test/batch-catchup mode); ``False`` runs continuously
    with a processing-time trigger (data_processor.py:190-197).

    ``discovery`` is the Auto Loader file-discovery seam
    (``cloudFiles.useNotifications`` — reference
    ``src/data_processor.py:187``, ``migration/migrate_from_s3.py:171``):

    - ``"listing"`` (default, Auto Loader's directory-listing mode):
      Spark's file source lists ``source_path`` every trigger. Cost
      grows with the TOTAL file count of the directory — the scaling
      cliff past ~10⁵ files/dir that notification mode exists to avoid.
    - ``"notifications"``: never lists ``source_path``. New-file events
      are consumed from ``queue_dir`` (required) — see
      :func:`stream_notified_files_to_table` for the contract. Per-
      trigger cost tracks the NOTIFICATION volume (new files), not the
      corpus size, so a directory with 10⁸ accumulated files streams at
      the same cost as an empty one.
    """
    if discovery == "notifications":
        if queue_dir is None:
            raise ValueError("discovery='notifications' requires queue_dir")
        return stream_notified_files_to_table(
            spark, queue_dir, table_path, schema=schema,
            file_format=file_format, stream_id=stream_id,
            checkpoint=checkpoint,
            max_notifications_per_trigger=max_files_per_trigger,
            available_now=available_now, transform=transform,
            schema_evolution=schema_evolution,
        )
    if discovery != "listing":
        raise ValueError(
            f"unknown discovery mode {discovery!r}: expected 'listing' "
            "or 'notifications'"
        )
    if schema is None:
        schema = infer_stream_schema(
            spark, source_path, file_format, schema_location=checkpoint,
            allow_evolution=schema_evolution,
        )
    t = LogTable.create(spark, table_path, schema)
    if schema_evolution:
        have = {f.name for f in t.schema().fields}
        new = [f for f in schema.fields if f.name not in have]
        if new:
            t.add_columns(new)
    return _run(
        spark, source_path, schema, file_format, max_files_per_trigger,
        checkpoint, available_now, stream_id, {table_path: "STREAMING UPDATE"},
        lambda batch_df, tbl: batch_df, prepare=transform,
    )


def notify_files(queue_dir: str, paths: list[str]) -> str:
    """Publish file-arrival notifications into ``queue_dir`` — the
    producer half of notification-mode discovery (the stand-in for
    S3→SQS / GCS→Pub/Sub bucket events behind Auto Loader's
    ``useNotifications``; reference ``migration/migrate_from_s3.py:171``).

    Each call lands ONE atomic, uniquely-named ndjson file whose lines
    are ``{"path": <absolute data file>}`` — the same rename-into-place
    protocol the data writers use, so a half-written notification is
    never visible. A real cloud deployment replaces this function with
    a trivial queue poller draining SQS/PubSub into the same ndjson
    shape; everything downstream is unchanged (the queue FILE FORMAT is
    the pluggable seam, exactly like the image-codec stub in
    operators/multimodal.py)."""
    if not paths:
        raise ValueError(
            "notify_files called with no paths — an empty notification "
            "is a publisher bug (purge would just delete it)"
        )
    os.makedirs(queue_dir, exist_ok=True)
    name = f"notify-{uuid.uuid4().hex}.json"
    tmp = os.path.join(queue_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        for p in paths:
            fh.write(json.dumps({"path": os.path.abspath(p)}) + "\n")
    final = os.path.join(queue_dir, name)
    os.replace(tmp, final)
    return final


def _all_notified_paths(queue_dir: str) -> list[str]:
    """Driver-side read of every notification in the queue (used only
    for schema inference — bounded by queue depth, never by the data
    directory's file count; consumed notifications are purgeable).
    A malformed notification line raises NAMING the queue file — the
    same loud-failure contract the sink applies (a silent drop under
    an exactly-once contract is permanent data loss)."""
    out: list[str] = []
    if not os.path.isdir(queue_dir):
        return out
    for n in sorted(os.listdir(queue_dir)):
        if n.startswith(".") or not n.endswith(".json"):
            continue
        out.extend(_all_notified_paths_one(os.path.join(queue_dir, n)))
    return out


def _uncommitted_queue_files(checkpoint: str) -> set[str]:
    """Queue files the stream's file-source checkpoint has LISTED in a
    batch that has not yet committed. A restart replays those batches
    by re-reading exactly these files (the FileStreamSource offset log
    records paths, not contents), so purge must keep them even when
    every data path they carry is already in the stream's source-file
    ledger — the crash-between-sink-commit-and-checkpoint-advance
    window the batch guard exists for."""
    src = os.path.join(checkpoint, "sources", "0")
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(src):
        return set()
    committed = (
        {int(n) for n in os.listdir(commits) if n.isdigit()}
        if os.path.isdir(commits)
        else set()
    )
    last = max(committed, default=-1)
    keep: set[str] = set()
    for n in os.listdir(src):
        # FileStreamSourceLog writes every compactInterval-th (default
        # 10) batch's metadata ONLY to "<batchId>.compact" — a compact
        # file carries every entry up to that batch, each stamped with
        # its original per-record batchId (ADVICE r11: a crash on a
        # compaction batch left its queue files undetected and purge
        # deleted files the replay still needed)
        if n.isdigit():
            file_batch = int(n)
        elif n.endswith(".compact") and n[: -len(".compact")].isdigit():
            file_batch = int(n[: -len(".compact")])
        else:
            continue
        if file_batch <= last:
            continue
        with open(os.path.join(src, n)) as fh:
            for ln in fh:
                ln = ln.strip()
                if not ln.startswith("{"):
                    continue  # the leading "v1" version line
                try:
                    rec = json.loads(ln)
                except ValueError:
                    continue
                # entries from already-committed batches inside a
                # compact file are not replay-needed; a per-batch digit
                # file's entries all carry its own batchId
                if int(rec.get("batchId", file_batch)) <= last:
                    continue
                if rec.get("path"):
                    keep.add(
                        os.path.abspath(unquote(urlparse(rec["path"]).path))
                    )
    return keep


def purge_consumed_notifications(
    queue_dir: str,
    table: LogTable,
    stream_id: str,
    checkpoint: str | None = None,
) -> list[str]:
    """Queue maintenance for notification-mode discovery (the analog
    of the event-retention/cleanup policy on the cloud queue behind
    Auto Loader's ``useNotifications``): delete notification files
    whose EVERY path is already in the stream's source-file ledger
    (``CommitLog.loaded_files``) — i.e. provably ingested. Zero-path
    files (an empty publish) are trivially consumed and deleted too. Notification files carrying
    ANY un-ingested path are kept whole (a notification file is the
    atomic queue unit). Returns the deleted file paths.

    Pass the stream's ``checkpoint`` to make the purge crash-safe: a
    drain that dies between the table commit and the streaming
    checkpoint advance leaves its last batch ledger-complete but
    UNCOMMITTED, and the restart replays it by RE-READING the queue
    files named in the offset log — with ``checkpoint`` given, those
    files are detected and kept. Without it, only purge after a clean
    shutdown (``availableNow`` drain that terminated normally), and
    never mid-trigger — deleting a listed-but-unread file errors the
    file source, the same caveat VACUUM has with concurrent readers.

    One queue per consuming stream (the SQS/PubSub model — fan out at
    the PUBLISHER when several pipelines ingest the same files): the
    ledger consulted here is ``stream_id``'s alone, so purging a queue
    shared by a second stream would delete notifications that stream
    has not seen. This is what keeps the per-trigger O(queue depth)
    bound equal to O(recent notifications) instead of O(all
    notifications ever)."""
    removed: list[str] = []
    if not os.path.isdir(queue_dir):
        return removed
    ingested = table.log.loaded_files(("stream", stream_id))
    replay_needed = (
        _uncommitted_queue_files(checkpoint) if checkpoint else set()
    )
    for n in sorted(os.listdir(queue_dir)):
        if n.startswith(".") or not n.endswith(".json"):
            continue
        qf = os.path.join(queue_dir, n)
        if os.path.abspath(qf) in replay_needed:
            continue  # an uncommitted batch will re-read this file
        try:
            paths = _all_notified_paths_one(qf)
        except ValueError:
            continue  # malformed file: leave it for the loud consumers
        except FileNotFoundError:
            continue  # a concurrent purger/consumer already removed it
        if all(p in ingested for p in paths):
            try:
                os.remove(qf)
            except FileNotFoundError:
                continue  # vanished between check and remove: consumed
            removed.append(qf)
    return removed


def _all_notified_paths_one(queue_file: str) -> list[str]:
    """Paths of a single notification file (same strict parse as
    :func:`_all_notified_paths`)."""
    out: list[str] = []
    with open(queue_file) as fh:
        for ln in fh:
            ln = ln.strip()
            if not ln:
                continue
            rec = json.loads(ln)
            if not isinstance(rec, dict) or not rec.get("path"):
                raise ValueError(
                    f"malformed notification line in {queue_file}: "
                    f'expected {{"path": <data file>}}, got {ln[:120]!r}'
                )
            out.append(rec["path"])
    return out


def stream_notified_files_to_table(
    spark: SparkSession,
    queue_dir: str,
    table_path: str,
    schema: T.StructType | None = None,
    file_format: str = "json",
    stream_id: str = "notified",
    checkpoint: str | None = None,
    max_notifications_per_trigger: int = 10,
    available_now: bool = True,
    transform=None,
    schema_evolution: bool = False,
) -> StreamingQuery:
    """Notification-mode file ingestion (Auto Loader
    ``cloudFiles.useNotifications=true`` — reference
    ``src/data_processor.py:187``): ingest exactly the data files named
    by arrival events in ``queue_dir``, NEVER listing the data
    directory.

    Spark-first shape: the built-in file stream consumes the (compact)
    notification queue — checkpointed, so each notification file is
    processed exactly once — and each micro-batch reads the newly
    notified data files with the BATCH reader and appends them to the
    log table under the usual exactly-once batch commit. Discovery
    cost per trigger is O(queue depth), not O(corpus files): the one
    scaling cliff of listing mode at millions of files per day.

    Exactly-once, layered:

    - notification delivery: the queue stream's checkpoint;
    - sink replay after a crash: the stream's last batch id in the
      table's snapshot (same as every sink in this module);
    - DUPLICATE notifications (cloud queues are at-least-once): each
      commit records the data files it ingested in the table's
      source-file ledger, and a batch drops paths already in it —
      re-notified files are no-ops instead of double-ingests. The
      ledger is folded from the listed commits: once log pruning
      deletes the commit that recorded a file, the file is forgotten.

    ``schema=None`` infers from the currently-notified files (never a
    directory listing) and pins under the checkpoint, identical to
    listing mode; on restart an existing pin wins outright — the queue
    may have been purged of consumed notifications by then, and
    nothing needs re-inferring. ``schema_evolution`` adopts brand-new
    columns on restart the same way, sampling only notified files that
    STILL EXIST (ingest-and-delete pipelines leave stale notifications
    behind; a deleted file can't drift the schema). Un-notified files
    in the data directory are INVISIBLE by design — that is the
    contract notification mode buys.

    One queue per consuming stream (the SQS/PubSub model): the
    duplicate ledger and :func:`purge_consumed_notifications` are both
    keyed to THIS stream's provenance — several pipelines ingesting
    the same files should each get their own queue_dir, fanned out at
    the publisher.
    """
    notif_schema = T.StructType([T.StructField("path", T.StringType())])
    if schema is None:
        pin = (
            os.path.join(checkpoint, "inferred_schema.json")
            if checkpoint
            else None
        )
        have_pin = pin is not None and os.path.exists(pin)
        pending = [
            p for p in _all_notified_paths(queue_dir) if os.path.exists(p)
        ]
        if not pending and not have_pin:
            raise ValueError(
                f"cannot infer a schema: no notifications in {queue_dir} "
                "yet — pass an explicit schema or notify the first files "
                "before starting"
            )
        # with a pin but nothing (existing) to sample, the pin alone
        # carries the schema — evolution has nothing to adopt from
        schema = infer_stream_schema(
            spark, queue_dir, file_format, schema_location=checkpoint,
            allow_evolution=schema_evolution and bool(pending),
            paths=pending or None,
        )
    t = LogTable.create(spark, table_path, schema)
    if schema_evolution:
        have = {f.name for f in t.schema().fields}
        new = [f for f in schema.fields if f.name not in have]
        if new:
            t.add_columns(new)

    # the duplicate-notification ledger, seeded from the table's commit
    # provenance ONCE per stream start and maintained incrementally —
    # replaying the full commit log every trigger would reintroduce the
    # O(total ingested files) per-trigger cost this mode exists to
    # avoid. foreachBatch invocations are sequential, so the closure
    # mutation is safe; a restart just re-seeds from the log.
    ledger: dict[str, set | None] = {"seen": None}

    def batch(batch_df: DataFrame, tbl: LogTable) -> tuple[DataFrame, list[str]] | None:
        if ledger["seen"] is None:
            ledger["seen"] = tbl.log.loaded_files(("stream", stream_id))
        seen = ledger["seen"]
        # a notification batch is metadata (bounded by
        # max_notifications_per_trigger × lines/file) — collecting the
        # path list to the driver is the same driver-state class as
        # Auto Loader's own file ledger, not a data collect
        rows = batch_df.select("path").collect()
        if any(r.path is None for r in rows):
            # PERMISSIVE json parse NULLs the path of a malformed
            # notification line; dropping it silently under an
            # exactly-once contract is permanent data loss (the queue
            # checkpoint marks it consumed) — fail the stream loudly
            raise ValueError(
                "malformed notification (missing/NULL 'path') in the "
                f"queue feeding {table_path} — fix the publisher and "
                "restart; refusing to drop it silently"
            )
        fresh = sorted({r.path for r in rows} - seen)
        if not fresh:
            return None  # all duplicates: nothing to commit
        data = spark.read.format(file_format).schema(schema).load(fresh)
        if transform is not None:
            data = transform(data)
        # a batch whose commit fails fails the stream, and a restart
        # re-seeds the ledger from the log
        seen.update(fresh)
        return data, fresh

    return _run(
        spark, queue_dir, notif_schema, "json", max_notifications_per_trigger,
        checkpoint, available_now, stream_id, {table_path: "STREAMING UPDATE"},
        batch,
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
    group_cols: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """[EXT] event-time tumbling-window aggregation with late-data
    watermarking — works on both batch and streaming DataFrames."""
    gcols = group_cols or []
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("w"), *gcols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col(value_col).cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *gcols,
            "n_events",
            "total_value",
        )
    )


def stream_upsert_to_table(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    schema: T.StructType,
    key_columns: list[str],
    order_col: str,
    file_format: str = "json",
    stream_id: str = "upsert",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 10,
    available_now: bool = True,
) -> StreamingQuery:
    """File stream → MERGE upsert per micro-batch (streaming CDC apply).

    The reference composes this shape from ``streaming_ingest`` +
    ``batch_upsert`` (data_processor.py:159-280); here it is one
    operator: each micro-batch is first deduplicated to the latest row
    per key (``row_number() = 1`` over ``order_col`` descending — a
    batch can carry several updates for one key, and MERGE requires a
    unique source key), then merged into the target. The MERGE commit
    records the batch in the table's exactly-once ledger, so
    crash-replayed batches short-circuit instead of double-applying.

    At scale each micro-batch MERGE touches only the target files whose
    key-range stats overlap the batch (LogTable stats pruning), so
    steady-state cost tracks batch size, not table size.
    """
    LogTable.create(spark, table_path, schema)
    w = Window.partitionBy(*key_columns).orderBy(F.col(order_col).desc())
    cond = " AND ".join(f"target.{k} = source.{k}" for k in key_columns)

    def batch(batch_df: DataFrame, tbl: LogTable) -> MergeBuilder:
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return (
            tbl.merge(latest, cond)
            .when_matched_update_all()
            .when_not_matched_insert_all()
        )

    return _run(
        spark, source_path, schema, file_format, max_files_per_trigger,
        checkpoint, available_now, stream_id, {table_path: "MERGE"}, batch,
        mode="update",
    )


def stream_enrich_to_table(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    schema: T.StructType,
    dim_path: str,
    join_key: str,
    file_format: str = "json",
    stream_id: str = "enrich",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 10,
    available_now: bool = True,
) -> StreamingQuery:
    """[EXT] Stream–static enrichment join: each micro-batch left-joins
    the CURRENT snapshot of a dimension log table and appends the
    enriched rows. This is Delta's stream-static join semantics — the
    static side is re-evaluated at every micro-batch, so dimension
    updates committed between batches flow into all LATER batches while
    already-landed rows keep the attributes they were enriched with
    (a fact table stamped at ingest time).

    At scale: the dimension join carries NO forced broadcast hint —
    AQE broadcasts a metadata-sized dim (the common case, fact batch
    never shuffles) and falls back to a shuffle join when the
    dimension outgrows an executor, instead of OOMing a hinted plan
    (same posture as winsorize's bounds join, r10). Each commit records
    its batch in the table's exactly-once ledger like every other sink
    here, so crash-replayed batches are no-ops.
    """
    dim_schema = LogTable(spark, dim_path).schema()
    enriched_fields = list(schema.fields) + [
        T.StructField(f.name, f.dataType, True)
        for f in dim_schema.fields
        if f.name != join_key
    ]
    LogTable.create(spark, table_path, T.StructType(enriched_fields))

    def batch(batch_df: DataFrame, tbl: LogTable) -> DataFrame:
        dim = LogTable(spark, dim_path).read()  # CURRENT snapshot
        return batch_df.join(dim, join_key, "left")

    return _run(
        spark, source_path, schema, file_format, max_files_per_trigger,
        checkpoint, available_now, stream_id, {table_path: "STREAMING UPDATE"},
        batch,
    )


def session_windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """[EXT] session windows (gap-based, data-driven extent) with
    watermarking — Spark's native `session_window` replaces the
    window-lag sessionization (q18) on streams, where a global
    lag-over-sort is impossible. Batch & streaming both work."""
    gcols = group_cols or []
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *gcols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *gcols,
            "n_events",
            "total_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "lts",
    right_ts: str = "rts",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """[EXT] stream-stream event-time interval join: right events within
    ``(left_ts, left_ts + max_delay]`` of a matching-key left event —
    the attribution-join shape (click → purchase). Both sides carry
    watermarks and the join has a two-sided time bound, so Spark can
    expire buffered state (without the bound, stream-stream join state
    grows forever). Works identically in batch mode, where it plans as
    a key-equi + time-range join.

    ``how="left_outer"`` additionally emits each unmatched left row
    with nulls for the right side ONCE the watermark passes its join
    window (Spark's outer stream-stream semantics: the null result can
    only be declared final after no matching right row can still
    arrive) — the "click that never converted" shape. Outer rows
    surface in the batch AFTER the watermark advance is applied, so a
    bounded replay needs a trailing watermark-advancing batch."""
    la = left.withWatermark(left_ts, watermark).alias("l")
    ra = right.withWatermark(right_ts, watermark).alias("r")
    key_cond = " AND ".join(f"l.{k} = r.{k}" for k in keys)
    time_cond = (
        f"r.{right_ts} > l.{left_ts} AND "
        f"r.{right_ts} <= l.{left_ts} + INTERVAL {max_delay}"
    )
    return la.join(ra, F.expr(f"{key_cond} AND {time_cond}"), how)


def stream_dedup_to_table(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    schema: T.StructType,
    key_columns: list[str],
    ts_col: str,
    watermark: str = "30 minutes",
    file_format: str = "json",
    stream_id: str = "dedup",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 10,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming ingest-dedup: drop re-deliveries of the same key
    arriving within the watermark horizon, then append the survivors —
    the at-least-once-source → exactly-once-rows pattern (duplicate
    events from producer retries / log replays are the #1 ingest
    artifact a training-data stream has to scrub).

    Uses Spark's ``dropDuplicatesWithinWatermark``: state holds one
    entry per key only until the watermark passes it (bounded state —
    the plain ``dropDuplicates`` keeps keys forever and OOMs an
    unbounded stream). Cross-batch duplicates inside the horizon are
    caught by the state store; the append sink keeps the exactly-once
    batch contract of :func:`stream_files_to_table`, so a
    crash-replayed micro-batch cannot double-append either.
    """
    LogTable.create(spark, table_path, schema)
    return _run(
        spark, source_path, schema, file_format, max_files_per_trigger,
        checkpoint, available_now, stream_id, {table_path: "STREAMING DEDUP"},
        lambda batch_df, tbl: batch_df,
        prepare=lambda s: s.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(key_columns),
    )


def stream_windowed_agg_to_table(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    schema: T.StructType,
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark: str = "24 hours",
    group_cols: list[str] | None = None,
    value_col: str = "value",
    transform=None,
    file_format: str = "json",
    stream_id: str = "winagg",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """[EXT] streaming event-time windowed aggregation materialized into
    a log table: file stream → ``withWatermark`` + tumbling
    ``F.window`` aggregate (update mode — each micro-batch emits only
    the windows it touched) → ``foreachBatch`` MERGE keyed on
    (window_start, group cols). Rows older than the watermark are
    dropped by the streaming aggregation — the late-data policy the
    reference's ingest-only streaming never had to define.

    ``transform(df) -> df`` (optional) runs between source and
    aggregation — the reference's ``processing_func`` seam
    (data_processor.py:93,119-121) applied to a stream.

    At scale: aggregation state is partitioned by (window, group) key
    across executors and evicted once the watermark passes a window's
    end; each micro-batch MERGE touches only the gold files whose
    window-range stats overlap the batch's emitted windows.
    """
    gcols = list(group_cols or [])

    def aggregate(stream: DataFrame) -> DataFrame:
        return windowed_counts(
            transform(stream) if transform is not None else stream,
            ts_col=ts_col,
            window_duration=window_duration,
            watermark=watermark,
            group_cols=gcols,
            value_col=value_col,
        )

    in_fields = {f.name: f for f in (transform(spark.createDataFrame([], schema))
                                     if transform is not None else
                                     spark.createDataFrame([], schema)).schema.fields}
    out_schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("window_end", T.TimestampType()),
            *[in_fields[g] for g in gcols],
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    LogTable.create(spark, table_path, out_schema)
    cond = " AND ".join(f"target.{k} = source.{k}" for k in ["window_start", *gcols])

    def batch(batch_df: DataFrame, tbl: LogTable) -> MergeBuilder:
        return (
            tbl.merge(batch_df, cond)
            .when_matched_update_all()
            .when_not_matched_insert_all()
        )

    return _run(
        spark, source_path, schema, file_format, max_files_per_trigger,
        checkpoint, available_now, stream_id, {table_path: "MERGE"}, batch,
        prepare=aggregate, mode="update",
    )


def stream_near_dup_ingest(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    index_path: str,
    schema: T.StructType,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    file_format: str = "json",
    stream_id: str = "neardup",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """[EXT] streaming corpus ingestion with near-dup suppression — the
    online form of the batch index probe
    (``dedup.incremental_lsh_pairs``): each micro-batch MinHashes ONLY
    ITSELF, probes the accumulated band-bucket index for collisions
    with everything ingested so far, drops colliding docs (within a
    batch the lowest id survives), appends survivors to the corpus
    table and their bands to the index — so the next batch dedups
    against them too.

    Exactly-once on BOTH tables independently: corpus and index appends
    each record the batch in their own table's ledger; a crash between
    the two re-runs the batch, the already-committed side no-ops, and
    the other catches up
    (the pair probe is deterministic, so the recomputed survivor set is
    identical). At 100 TB the per-batch cost is the batch hash + one
    bucket equi-join against the index — the corpus is never re-hashed.
    """
    from ..operators.dedup import incremental_lsh_pairs, minhash_band_buckets

    LogTable.create(spark, table_path, schema)
    band_schema = T.StructType(
        [
            next(f for f in schema.fields if f.name == id_col),
            T.StructField("band_idx", T.IntegerType(), False),
            T.StructField("bkt", T.StringType(), False),
        ]
    )
    LogTable.create(spark, index_path, band_schema)

    def batch(
        batch_df: DataFrame, corpus: LogTable, index: LogTable
    ) -> tuple[DataFrame, DataFrame]:
        pairs = incremental_lsh_pairs(
            batch_df, index.read(), text_col, id_col, num_hashes, band_size
        )
        batch_ids = batch_df.select(F.col(id_col).alias("__bid")).distinct()
        # drop a batch doc when it pairs with an INDEXED doc (either
        # pair side), or when it's the GREATER side of a batch-batch
        # pair (lowest id in a within-batch dup cluster survives)
        a_in = pairs.join(
            batch_ids, pairs.id_a == batch_ids.__bid, "left_semi"
        ).select(F.col("id_a").alias("pid"), F.col("id_b").alias("other"))
        b_any = pairs.select(F.col("id_b").alias("pid"), F.col("id_a").alias("other"))
        # id_b is always the greater of a normalized pair: it drops
        # whether its partner is indexed or in-batch; id_a (the lesser)
        # drops only when its partner is indexed (not in the batch)
        a_drop = a_in.join(
            batch_ids, a_in.other == batch_ids.__bid, "left_anti"
        ).select("pid")
        drops = a_drop.unionByName(b_any.select("pid")).distinct()
        survivors = batch_df.join(
            drops, F.col(id_col) == F.col("pid"), "left_anti"
        )
        bands = minhash_band_buckets(
            survivors, text_col, id_col, num_hashes, band_size
        )
        return survivors, bands

    return _run(
        spark, source_path, schema, file_format, max_files_per_trigger,
        checkpoint, available_now, stream_id,
        {table_path: "STREAMING UPDATE", index_path: "STREAMING INDEX"}, batch,
    )


def stream_scd2_apply(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    schema: T.StructType,
    key_columns: list[str],
    order_col: str,
    file_format: str = "json",
    stream_id: str = "scd2",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming SCD Type 2 apply [EXT] — the ``APPLY CHANGES INTO …
    STORED AS SCD TYPE 2`` pattern (Databricks DLT's public semantics,
    rebuilt on open primitives): a stream of change records becomes a
    full dimension HISTORY, where each change opens a new version
    effective at its ``order_col`` timestamp and closes the previous
    one at the same instant. Unlike :func:`stream_upsert_to_table`
    (keep-last, history-less), a batch carrying several versions of
    one key lands ALL of them, correctly chained.

    Semantics (deterministic given ordered arrival):

    - consecutive duplicate records (same tracked-column hash as the
      key's previous record — within a batch or across batches via the
      open row) are dropped, not re-versioned;
    - per key and batch, records sort by ``order_col``; intra-batch
      predecessors close at their successor's timestamp, the last one
      stays open;
    - the target's currently-open row (if its hash differs) closes at
      the first kept timestamp.

    ONE MERGE per micro-batch does all of it (the NULL-key staging
    trick of :mod:`operators.scd2`): per-key close rows update the
    open target row with ``effective_end_date = source.__close_ts``;
    version rows ride NULL merge keys into a guarded INSERT clause.
    The MERGE commit records the batch in the table's exactly-once
    ledger.

    At 100 TB: the batch work is one key-window (batch-sized), an
    open-row hash probe (a key equi-join against the dimension's
    is_current slice), and a MERGE that stats-prunes to the target
    files overlapping the batch's keys. Both the probe join and the
    MERGE reward clustering the dimension on its business key
    (ZORDER / CLUSTER BY) — then steady-state cost tracks batch size,
    not dimension size; on an unclustered dimension the probe is a
    per-batch dim scan, the same cost profile Delta's own
    APPLY CHANGES pays."""
    from ..operators.scd2 import SCD2_COLS, record_hash

    tracked = [
        f.name for f in schema.fields
        if f.name not in set(key_columns) | {order_col}
    ]
    dim_schema = T.StructType(
        [f for f in schema.fields if f.name != order_col]
        + [
            T.StructField("effective_start_date", T.TimestampType()),
            T.StructField("effective_end_date", T.TimestampType()),
            T.StructField("is_current", T.BooleanType()),
            T.StructField("record_hash", T.StringType()),
        ]
    )
    LogTable.create(spark, table_path, dim_schema)

    def batch(batch_df: DataFrame, tbl: LogTable) -> MergeBuilder | None:
        b = batch_df.withColumn("__h", record_hash(tracked))
        open_rows = (
            tbl.read()
            .filter(F.col("is_current"))
            .select(*key_columns, F.col("record_hash").alias("__open_h"))
        )
        w = Window.partitionBy(*key_columns).orderBy(F.col(order_col).asc())
        kept = (
            b.withColumn("__prev", F.lag("__h").over(w))
            .join(open_rows, key_columns, "left")
            .filter(
                F.when(F.col("__prev").isNotNull(),
                       F.col("__h") != F.col("__prev"))
                .otherwise(
                    F.col("__open_h").isNull()
                    | (F.col("__h") != F.col("__open_h"))
                )
            )
            .drop("__prev", "__open_h")
        )
        versions = kept.select(
            *key_columns,
            *tracked,
            F.col(order_col).cast("timestamp").alias("effective_start_date"),
            F.lead(F.col(order_col).cast("timestamp")).over(w).alias(
                "effective_end_date"
            ),
            F.lead(order_col).over(w).isNull().alias("is_current"),
            F.col("__h").alias("record_hash"),
        )
        if not versions.take(1):
            # all records were consecutive duplicates: nothing to
            # commit; a crash-replay of this batch is a no-op anyway
            return None
        closes = versions.groupBy(*key_columns).agg(
            F.min("effective_start_date").alias("__close_ts")
        )
        all_cols = key_columns + tracked + SCD2_COLS
        match_rows = closes.select(
            *[F.col(k).alias(f"__mk_{k}") for k in key_columns],
            *key_columns,
            "__close_ts",
            *[
                F.lit(None).cast(dim_schema[c].dataType).alias(c)
                for c in all_cols
                if c not in key_columns
            ],
        )
        insert_rows = versions.select(
            *[
                F.lit(None).cast(versions.schema[k].dataType).alias(f"__mk_{k}")
                for k in key_columns
            ],
            *key_columns,
            F.lit(None).cast("timestamp").alias("__close_ts"),
            *[c for c in all_cols if c not in key_columns],
        )
        staged = match_rows.unionByName(insert_rows)
        cond = " AND ".join(
            [f"target.{k} = source.__mk_{k}" for k in key_columns]
            + ["target.is_current = true"]
        )
        null_keys = " AND ".join(
            f"source.__mk_{k} IS NULL" for k in key_columns
        )
        return (
            tbl.merge(staged, cond)
            .when_matched_update(
                # no hash condition needed: no-op firsts were filtered
                # upstream, so a surviving match row always closes
                set={
                    "is_current": "false",
                    "effective_end_date": "source.__close_ts",
                },
            )
            .when_not_matched_insert(
                condition=null_keys,
                values={c: f"source.{c}" for c in all_cols},
            )
        )

    return _run(
        spark, source_path, schema, file_format, max_files_per_trigger,
        checkpoint, available_now, stream_id, {table_path: "MERGE"}, batch,
        mode="update",
    )


def stream_pit_enrich(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    dim_path: str,
    schema: T.StructType,
    key_columns: list[str],
    ts_col: str,
    dim_key_columns: list[str] | None = None,
    file_format: str = "json",
    stream_id: str = "pit",
    checkpoint: str | None = None,
    max_files_per_trigger: int = 10,
    available_now: bool = True,
    transform=None,
) -> StreamingQuery:
    """Streaming POINT-IN-TIME enrichment [EXT]: each event joins the
    SCD2 dimension version that was current AT THE EVENT'S OWN
    TIMESTAMP (``effective_start <= ts < effective_end``), not the
    version current at processing time — the feature-store lookup rule
    that prevents training-serving leakage (an event must never see
    attributes from its future). Complements
    :func:`stream_enrich_to_table` (which stamps the LATEST dim
    snapshot) and consumes exactly what :func:`stream_scd2_apply`
    produces.

    Per micro-batch: ONE left join whose condition is the key equality
    PLUS the closed-open interval check — Catalyst extracts the equi
    part as the join key and applies the interval as the join filter,
    so the fan-out is bounded by versions-per-key and each event
    matches AT MOST ONE version (intervals are disjoint per key).
    Events with no matching version (unknown key, or older than the
    key's first version) keep NULL attributes — enrichment never drops
    or duplicates events. An exactly-once batch append, like every
    sink in this module.

    At scale the dimension side rewards key clustering exactly like
    MERGE; the target table is created from the first batch's enriched
    schema."""
    from functools import reduce as _reduce

    dkeys = dim_key_columns or key_columns

    def batch(batch_df: DataFrame, tbl: LogTable) -> DataFrame:
        dim = LogTable(spark, dim_path).read().drop("record_hash")
        attr_cols = [
            c for c in dim.columns
            if c not in set(dkeys)
            | {"effective_start_date", "effective_end_date", "is_current"}
        ]
        d = dim.select(
            *[F.col(dk).alias(f"__dk_{k}") for dk, k in zip(dkeys, key_columns)],
            *attr_cols,
            "effective_start_date",
            "effective_end_date",
        )
        cond = _reduce(
            lambda a, b: a & b,
            [batch_df[k] == d[f"__dk_{k}"] for k in key_columns],
        ) & (batch_df[ts_col] >= d["effective_start_date"]) & (
            d["effective_end_date"].isNull()
            | (batch_df[ts_col] < d["effective_end_date"])
        )
        return batch_df.join(d, cond, "left").drop(
            *[f"__dk_{k}" for k in key_columns],
            "effective_start_date",
            "effective_end_date",
        )

    # ``transform`` e.g. re-types an exact epoch-micros long into the
    # event-time timestamp (JSON's default timestamp format is
    # milli-precise, so micro-exact pipelines ship longs and convert)
    return _run(
        spark, source_path, schema, file_format, max_files_per_trigger,
        checkpoint, available_now, stream_id, {table_path: "STREAMING UPDATE"},
        batch, prepare=transform,
    )
