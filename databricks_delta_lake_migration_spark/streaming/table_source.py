"""Log table as a STREAMING SOURCE — the ``readStream.format("delta")``
analog (Delta's streaming source semantics: stream the table's appended
files version-by-version), built on Spark 4's Python Data Source API.

Semantics mirrored from Delta's source:

- offsets are table VERSIONS; each micro-batch covers the commits in
  ``(start, end]`` and emits the rows their added files contain;
- rewrite-only commits (OPTIMIZE / ZORDER — Delta's
  ``dataChange=false`` adds) are SKIPPED: the data did not change, so
  re-emitting the compacted files would double-count;
- data-CHANGING commits (UPDATE / DELETE / MERGE / overwrite /
  RESTORE / DV deletes) make the source raise, exactly like Delta,
  unless ``ignoreChanges=true`` — in which case their added
  (rewritten) files stream through and downstream must tolerate
  re-delivery of unchanged rows, the documented Delta caveat;
- ``startingVersion`` begins the stream at a later commit (default 0 =
  the whole table history, which for an append-only table equals the
  full current contents).

Scale design: the planner reads only the commit log, through the same
Spark-free reader LogTable uses (``tables/log.py``: newest checkpoint
plus commit tail, all I/O through the ``fsio`` seam, no SparkSession in
the planning worker); each added parquet file becomes one
InputPartition, and executors read their file with pyarrow directly —
the per-batch work distributes exactly like Delta's file-granular
streaming source. Hive-style partition values are
parsed from directory names and injected; physical→logical column
mapping (RENAME COLUMN tables) is applied from the mapping property;
columns added later surface as NULL for pre-DDL files; dropped/hidden
physical columns (row-tracking ids) are pruned.
"""

from __future__ import annotations

import json
import os
from datetime import date, timezone
from typing import Iterator
from urllib.parse import unquote

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..tables.log import CommitLog

CHANGES_DIR = "_changes"
MAPPING_PROP = "columnmapping.map"
CDF_PROP = "enableChangeDataFeed"
CDF_FIELDS = [
    {"name": "_change_type", "type": "string", "nullable": True,
     "metadata": {}},
    {"name": "_commit_version", "type": "long", "nullable": True,
     "metadata": {}},
    {"name": "_commit_timestamp", "type": "timestamp", "nullable": True,
     "metadata": {}},
]

# rewrite-only maintenance: adds carry no new data (Delta dataChange=false)
_DATA_UNCHANGED_OPS = {"OPTIMIZE", "ZORDER"}

class _FileSlice(InputPartition):
    def __init__(self, file_path, part_values, inv_mapping, schema_json):
        self.file_path = file_path
        self.part_values = part_values  # [(logical_col, raw_string)]
        self.inv_mapping = inv_mapping  # physical -> logical
        self.schema_json = schema_json


def _parse_partition_values(rel_path: str) -> list[tuple[str, str]]:
    out = []
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out.append((unquote(k), unquote(v)))
    return out


def _pycast(raw: str, spark_type: str):
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if spark_type in ("long", "integer", "short", "byte"):
        return int(raw)
    if spark_type in ("double", "float"):
        return float(raw)
    if spark_type == "date":
        return date.fromisoformat(raw)
    if spark_type == "boolean":
        return raw.lower() == "true"
    if spark_type == "string":
        return raw
    raise ValueError(
        f"unsupported partition column type for streaming source: "
        f"{spark_type}"
    )


class LogTableStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options["path"]
        self.starting = int(options.get("startingversion", 0))
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.cdf = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )

    def initialOffset(self) -> dict:
        return {"version": self.starting - 1}

    def latestOffset(self) -> dict:
        vs = CommitLog(self.path).versions()
        return {"version": vs[-1] if vs else -1}

    def partitions(self, start: dict, end: dict):
        log = CommitLog(self.path)
        _, schema_json, _, props, _ = log.snapshot()
        if self.cdf:
            return self._cdf_partitions(log, schema_json, props, start, end)
        mapping = json.loads(props.get(MAPPING_PROP, "{}"))
        inv = {phys: logical for logical, phys in mapping.items()}
        commits = {c.version: c for c in log.commits()}
        out = []
        for v in range(start["version"] + 1, end["version"] + 1):
            if v < 0:
                continue
            if v not in commits:
                # the commit was pruned by log retention: silently
                # skipping would be data loss — fail like Delta's
                # "versionAsOf/startingVersion is before the earliest
                # available version" instead
                raise RuntimeError(
                    f"streaming source needs version {v} of {self.path} "
                    "but the commit log has been pruned past it; restart "
                    f"with startingVersion >= {min(commits) if commits else 0}"
                )
            c = commits[v]
            op = c.operation
            changes = bool(c.remove) or bool(c.dvs)
            if changes and op in _DATA_UNCHANGED_OPS:
                continue  # compaction rewrite: data unchanged, skip
            if changes and not self.ignore_changes:
                raise RuntimeError(
                    f"streaming source found a data-changing commit "
                    f"(version {v}, {op}) in {self.path}; restart from a "
                    "newer startingVersion or set ignoreChanges=true "
                    "(downstream must then tolerate re-delivered rows)"
                )
            for f in c.add:
                out.append(
                    _FileSlice(
                        os.path.join(f.base or self.path, f.path),
                        _parse_partition_values(f.path),
                        inv,
                        schema_json,
                    )
                )
        return out

    def _cdf_partitions(self, log, schema_json, props, start, end):
        """Streaming CHANGE DATA FEED (Delta's
        ``readChangeFeed=true`` streaming source): each micro-batch
        carries the row-level change files of the commits in
        ``(start, end]`` — inserts, update pre/post images, deletes —
        so a downstream CDC consumer sees every mutation, not just
        appends. The change-change dichotomy of the non-CDF path does
        not apply (mutations are the payload), but data LOSS detection
        does: a commit that mutated data while CDF was enabled whose
        ``_changes/v=N`` dir has been VACUUMed past retention, or a
        commit JSON pruned by log retention, makes a lagging consumer
        silently lose mutations — both raise instead (mirroring the
        non-CDF pruned-history error). Change files store the full row
        plus the three CDF columns and are unpartitioned, so no value
        re-injection."""
        if props.get(CDF_PROP, "false") != "true":
            raise RuntimeError(
                f"{CDF_PROP} is not enabled on {self.path} — streaming "
                "readChangeFeed requires it"
            )
        sch = json.loads(schema_json)
        sch["fields"] = list(sch["fields"]) + CDF_FIELDS
        cdf_schema_json = json.dumps(sch)
        mapping = json.loads(props.get(MAPPING_PROP, "{}"))
        inv = {phys: logical for logical, phys in mapping.items()}
        commits: dict[int, dict] = {}
        cdf_on: dict[int, bool] = {}
        for c, props_v in log.walk():
            commits[c.version] = c
            cdf_on[c.version] = props_v.get(CDF_PROP, "false") == "true"
        out = []
        for v in range(start["version"] + 1, end["version"] + 1):
            if v < 0:
                continue
            if v not in commits:
                raise RuntimeError(
                    f"streaming CDF source needs version {v} of "
                    f"{self.path} but the commit log has been pruned "
                    "past it; restart with startingVersion >= "
                    f"{min(commits) if commits else 0}"
                )
            d = os.path.join(self.path, CHANGES_DIR, f"v={v:020d}")
            if not log.fs.isdir(d):
                c = commits[v]
                # compaction rewrites (dataChange=false) never emit
                # change files — their absence is not data loss
                mutated = bool(
                    c.add or c.remove or c.dvs
                ) and c.operation not in _DATA_UNCHANGED_OPS
                if mutated and cdf_on[v]:
                    raise RuntimeError(
                        f"change files for version {v} of {self.path} "
                        "have been vacuumed past retention — the CDC "
                        "stream would silently lose those mutations; "
                        f"restart with startingVersion > {v} and "
                        "reconcile downstream, or raise the change-file "
                        "retention"
                    )
                # metadata-only commit (or written before CDF was
                # enabled): genuinely nothing to emit
                continue
            for name in sorted(log.fs.listdir(d)):
                if name.endswith(".parquet"):
                    out.append(
                        _FileSlice(
                            os.path.join(d, name), [], inv, cdf_schema_json
                        )
                    )
        return out

    def read(self, partition: _FileSlice) -> Iterator[tuple]:
        import pyarrow.parquet as pq

        schema = StructType.fromJson(json.loads(partition.schema_json))
        tbl = pq.read_table(partition.file_path)
        cols = {}
        for name in tbl.column_names:
            logical = partition.inv_mapping.get(name, name)
            cols[logical] = tbl.column(name).to_pylist()
        n = tbl.num_rows
        part = dict(partition.part_values)
        rows_by_field = []
        for fld in schema.fields:
            if fld.name in cols:
                vals = cols[fld.name]
                if fld.dataType.typeName() == "timestamp":
                    # parquet may surface tz-naive datetimes; Spark's
                    # converter requires tz-aware for TimestampType
                    vals = [
                        v.replace(tzinfo=timezone.utc)
                        if v is not None and v.tzinfo is None
                        else v
                        for v in vals
                    ]
                rows_by_field.append(vals)
            elif fld.name in part:
                v = _pycast(part[fld.name], fld.dataType.typeName())
                rows_by_field.append([v] * n)
            else:
                # column added by later DDL: pre-DDL files yield NULLs
                rows_by_field.append([None] * n)
        yield from zip(*rows_by_field)

    def commit(self, end: dict) -> None:
        pass


class LogTableStreamDataSource(DataSource):
    """``spark.readStream.format("logtable_stream").load(path)`` after
    ``spark.dataSource.register(LogTableStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "logtable_stream"

    def schema(self):
        _, schema_json, _, _, _ = CommitLog(self.options["path"]).snapshot()
        sch = json.loads(schema_json)
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            sch["fields"] = list(sch["fields"]) + CDF_FIELDS
        return StructType.fromJson(sch)

    def streamReader(self, schema):
        return LogTableStreamReader(self.options)


def read_table_stream(spark, path: str, **options):
    """Convenience: register the source (idempotent) and open a
    streaming DataFrame over the log table at ``path``. Options:
    ``startingVersion`` (int, default 0), ``ignoreChanges`` (bool,
    default false)."""
    spark.dataSource.register(LogTableStreamDataSource)
    r = spark.readStream.format("logtable_stream").option("path", path)
    for k, v in options.items():
        r = r.option(k, str(v))
    return r.load()
