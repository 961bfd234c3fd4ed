"""The commit-log format, end to end, without a SparkSession.

A table's ``_log`` directory holds one JSON file per committed version
(``{version:020d}.json``) and, every ``delta.checkpointInterval``
commits, a full-state ``{version:020d}.checkpoint``. A snapshot at
version v is the newest readable checkpoint at or below v plus the
commits after it up to v, taken from a fresh listing — the Delta Lake
paper's definition (VLDB 2020, §3).

:class:`CommitLog` is the only reader and writer of that directory:
:class:`~.logtable.LogTable` and the streaming source
(``streaming/table_source.py``) both go through it, and it does all of
its I/O through the :mod:`.fsio` seam.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, replace
from typing import Any, Iterator, NamedTuple

from pyspark.sql import types as T

from .fsio import LOCAL_FS, FileSystem

LOG_DIR = "_log"

# Commits whose `properties` payload REPLACES the table's property map
# wholesale (they carry the full post-op map, and merging would
# resurrect removed keys). All other property-bearing commits merge.
# "ALTER COLUMN" is here for DROP NOT NULL, which must REMOVE its
# notnull.* key — merge semantics would resurrect it. Its other users
# (TYPE / COMMENT) carry no properties, and SET NOT NULL passes the
# full current map, so replace semantics are correct for all of them.
_PROPS_REPLACE_OPS = {
    "UNSET TBLPROPERTIES", "RENAME COLUMN", "DROP COLUMN", "RESTORE",
    "ALTER COLUMN", "DROP FEATURE",
}


@dataclass
class FileEntry:
    path: str  # relative to table root (includes partition subdirs);
    # absolute for shallow-clone references into a foreign table
    num_records: int
    size_bytes: int
    base: str | None = None  # partition-resolution root for foreign files
    # per-column [min, max] from the parquet footer (Delta's add.stats):
    # drives MERGE/DML file pruning without scanning data. None for
    # files written before stats collection (conservatively un-prunable).
    stats: dict[str, list] | None = None
    # deletion-vector files (paths under DV_DIR, relative to the table
    # root) whose (path, row_index) tombstones apply to this file; the
    # effective deleted set is their union (Delta's add.deletionVector).
    dv: list[str] | None = None
    # bloom-filter sidecar (path under BLOOM_DIR, relative to the table
    # root) carrying per-column membership filters for the columns in
    # the table's bloomfilter.columns property at write time — loaded
    # lazily and only for stats-surviving files (Delta's bloom index).
    bloom: str | None = None
    # default row commit version (Delta's defaultRowCommitVersion,
    # row-tracking tables only): rows whose __row_commit is NULL were
    # last modified by the commit that added this file. Stamped with
    # the FINAL commit version by _commit_tx (rebase-safe); preserved
    # verbatim when an entry is replayed (RESTORE) or DV-replaced.
    rcv: int | None = None
    # base row id (Delta's baseRowId): rows whose __row_id is NULL get
    # id = brid + _metadata.row_index — fresh ingest never materializes
    # ids (zero extra jobs); rewrites carry materialized ids forward.
    # Allocated driver-side at commit time from the table's
    # rowtracking.highWatermark property.
    brid: int | None = None

    def abspath(self, root: str) -> str:
        return self.path if os.path.isabs(self.path) else os.path.join(root, self.path)

    def to_json(self) -> dict:
        d = {"path": self.path, "numRecords": self.num_records, "size": self.size_bytes}
        if self.base:
            d["base"] = self.base
        if self.stats:
            d["stats"] = self.stats
        if self.dv:
            d["dv"] = self.dv
        if self.bloom:
            d["bloom"] = self.bloom
        if self.rcv is not None:
            d["rcv"] = self.rcv
        if self.brid is not None:
            d["brid"] = self.brid
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(
            d["path"], d["numRecords"], d["size"], d.get("base"), d.get("stats"),
            d.get("dv"), d.get("bloom"), d.get("rcv"), d.get("brid"),
        )


@dataclass
class Commit:
    version: int
    timestamp: float
    operation: str
    add: list[FileEntry] = field(default_factory=list)
    remove: list[str] = field(default_factory=list)
    schema_json: str | None = None
    partition_by: list[str] | None = None
    properties: dict[str, str] | None = None
    parameters: dict[str, Any] = field(default_factory=dict)
    metrics: dict[str, Any] = field(default_factory=dict)
    # merge-on-read deletes: data-file path → DV files added for it
    dvs: dict[str, list[str]] = field(default_factory=dict)
    # free-form commit annotation (Delta's commitInfo.userMetadata)
    user_metadata: str | None = None

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "timestamp": self.timestamp,
            "operation": self.operation,
            "add": [f.to_json() for f in self.add],
            "remove": self.remove,
            "schema": self.schema_json,
            "partitionBy": self.partition_by,
            "properties": self.properties,
            "operationParameters": self.parameters,
            "operationMetrics": self.metrics,
            **({"deletionVectors": self.dvs} if self.dvs else {}),
            **(
                {"userMetadata": self.user_metadata}
                if self.user_metadata is not None
                else {}
            ),
        }

    @staticmethod
    def from_json(d: dict) -> "Commit":
        return Commit(
            version=d["version"],
            timestamp=d["timestamp"],
            operation=d["operation"],
            add=[FileEntry.from_json(f) for f in d.get("add", [])],
            remove=d.get("remove", []),
            schema_json=d.get("schema"),
            partition_by=d.get("partitionBy"),
            properties=d.get("properties"),
            parameters=d.get("operationParameters", {}),
            metrics=d.get("operationMetrics", {}),
            dvs=d.get("deletionVectors", {}),
            user_metadata=d.get("userMetadata"),
        )


class Snapshot(NamedTuple):
    """The table state at ``version``: one read of the log. A write
    transaction reads one snapshot and commits at ``version + 1``
    against it (see ``LogTable._commit_tx``)."""

    files: list[FileEntry]
    schema_json: str | None
    partition_by: list[str]
    properties: dict[str, str]
    version: int

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))


def fold_properties(props: dict[str, str], c: Commit) -> dict[str, str]:
    """The table properties after ``c``, given those before it."""
    if c.properties is None:
        return props
    if c.operation in _PROPS_REPLACE_OPS:
        return dict(c.properties)
    return {**props, **c.properties}


class CommitLog:
    """The ``_log`` directory of the table rooted at ``root``.

    Every read lists the directory afresh, so commits and prunes made
    by other handles are always seen. Parsed commits are cached by
    version: a listing parses only versions not cached yet and drops
    cached versions that are no longer listed."""

    def __init__(self, root: str, fs: FileSystem = LOCAL_FS):
        self.root = root
        self.dir = os.path.join(root, LOG_DIR)
        self.fs = fs
        self.cache: dict[int, Commit] = {}

    def _path(self, version: int, kind: str) -> str:
        return os.path.join(self.dir, f"{version:020d}.{kind}")

    def exists(self) -> bool:
        return self.fs.isdir(self.dir) and bool(self.fs.listdir(self.dir))

    def listing(self) -> tuple[list[int], list[int]]:
        """Sorted (commit versions, checkpoint versions), one listing."""
        if not self.fs.isdir(self.dir):
            return [], []
        found: dict[str, list[int]] = {"json": [], "checkpoint": []}
        for name in self.fs.listdir(self.dir):
            stem, _, kind = name.partition(".")
            if kind in found:
                found[kind].append(int(stem))
        return sorted(found["json"]), sorted(found["checkpoint"])

    def versions(self) -> list[int]:
        return self.listing()[0]

    def checkpoint_versions(self) -> list[int]:
        return self.listing()[1]

    def commits(self) -> list[Commit]:
        """Every listed commit, in version order."""
        return self._load(self.versions())

    def _load(self, versions: list[int]) -> list[Commit]:
        cached = self.cache
        self.cache = {
            v: cached.get(v) or Commit.from_json(self.fs.read_json(self._path(v, "json")))
            for v in versions
        }
        return list(self.cache.values())

    def put(self, commit: Commit) -> bool:
        """Create ``commit``'s version file unless it exists — the
        optimistic-concurrency primitive. Returns False, leaving the
        log as it was, when the version is taken, or when its slot was
        free only because a concurrent pruner had deleted it: the
        predecessor is gone and no checkpoint sits at the slot, so every
        snapshot would skip the commit. One listing decides the latter."""
        v = commit.version
        path = self._path(v, "json")
        self.fs.makedirs(self.dir)
        if not self.fs.put_if_absent(path, json.dumps(commit.to_json())):
            return False
        versions, checkpoints = self.listing()
        if v > 0 and v - 1 not in versions and v in versions and v not in checkpoints:
            self.fs.delete(path)
            return False
        self.cache[v] = commit
        return True

    def _checkpoint(self, checkpoints: list[int], max_version: int) -> dict | None:
        # newest first; a damaged checkpoint falls back to the next-older
        # one (a pruned log keeps two exactly for this)
        for v in reversed([c for c in checkpoints if c <= max_version]):
            try:
                return self.fs.read_json(self._path(v, "checkpoint"))
            except (OSError, json.JSONDecodeError):
                continue
        return None  # no readable checkpoint → replay from the first commit

    def snapshot(self, version: int | None = None) -> Snapshot:
        """The :class:`Snapshot` at ``version`` (default: the newest),
        from one listing. Starts from the
        newest readable checkpoint at or below it and applies only the
        commit tail after it, so the cost is O(files + commits since
        the checkpoint), not O(all commits)."""
        versions, checkpoints = self.listing()
        if not versions:
            raise FileNotFoundError(f"not a log table: {self.root}")
        target = versions[-1] if version is None else version
        active: dict[str, FileEntry] = {}
        schema_json: str | None = None
        partition_by: list[str] = []
        props: dict[str, str] = {}
        start_after = -1
        cp = self._checkpoint(checkpoints, target)
        if cp is not None:
            active = {d["path"]: FileEntry.from_json(d) for d in cp["add"]}
            schema_json = cp["schema"]
            partition_by = cp["partitionBy"] or []
            props = dict(cp["properties"] or {})
            start_after = cp["version"]
        if cp is None and versions[0] > target:
            raise ValueError(f"version {version} not found (table at {versions[-1]})")
        for c in self._load(versions):
            if not start_after < c.version <= target:
                continue
            for p in c.remove:
                active.pop(p, None)
            for f in c.add:
                active[f.path] = f
            for p, dvfiles in c.dvs.items():
                e = active.get(p)
                if e is not None:
                    # copy-on-write: the cached Commit owns its entries
                    active[p] = replace(e, dv=(e.dv or []) + dvfiles)
            if c.schema_json:
                schema_json = c.schema_json
            if c.partition_by is not None:
                partition_by = c.partition_by
            props = fold_properties(props, c)
        return Snapshot(list(active.values()), schema_json, partition_by, props, target)

    def walk(self) -> Iterator[tuple[Commit, dict[str, str]]]:
        """Yield ``(commit, properties after it)`` for every listed
        commit, the properties seeded from the checkpoint at or below
        the oldest listed commit when the log prefix was pruned. Cheaper
        than :meth:`snapshot` where only a property's value AT a version
        matters (was CDF on when commit v ran? which checkpoint interval
        applies?): no active-file state is built."""
        versions, checkpoints = self.listing()
        props: dict[str, str] = {}
        if versions and versions[0] != 0:
            cp = self._checkpoint(checkpoints, versions[0])
            props = dict((cp or {}).get("properties") or {})
        for c in self._load(versions):
            props = fold_properties(props, c)
            yield c, props

    def write_checkpoint(self, version: int) -> None:
        """Materialize the snapshot at ``version`` so later snapshots
        replay only the commit tail after it."""
        snap = self.snapshot(version)
        state = {
            "version": snap.version,
            "add": [f.to_json() for f in snap.files],
            "schema": snap.schema_json,
            "partitionBy": snap.partition_by,
            "properties": snap.properties,
        }
        self.fs.write_text(self._path(version, "checkpoint"), json.dumps(state))

    def prune_below(self, cut: int) -> None:
        """Delete the commits and checkpoints older than ``cut``."""
        versions, checkpoints = self.listing()
        for v in versions:
            if v < cut:
                self.fs.delete(self._path(v, "json"))
        for v in checkpoints:
            if v < cut:
                self.fs.delete(self._path(v, "checkpoint"))
