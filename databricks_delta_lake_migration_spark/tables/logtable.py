"""Log-structured ACID table format: Parquet data files + a JSON
commit log, with Delta-Lake-OSS user semantics.

This replaces ``delta-spark`` (absent from this environment) for the
reference's signature surface (SURVEY.md §2.10/§2.2):

- versioned commits, time travel (``versionAsOf`` / ``timestampAsOf``)
  — reference ``notebooks/05_time_travel_demo.py:94-139``
- MERGE upsert with conditional clauses — ``src/data_processor.py:233-280``,
  ``notebooks/04_acid_operations.py:69-101``
- UPDATE / DELETE with predicates — ``04_acid_operations.py:128-175``
- RESTORE — ``src/delta_utils.py:176-197``
- Change Data Feed with ``_change_type``/``_commit_version``/
  ``_commit_timestamp`` — ``src/delta_utils.py:373-438``
- OPTIMIZE / Z-ORDER / VACUUM — ``src/delta_utils.py:295-370``
- replaceWhere partition-scoped overwrite — ``notebooks/03_gold_aggregation.py:82-86``
- schema evolution (mergeSchema / overwriteSchema) — ``src/delta_utils.py:107-147``
- CLONE, DESCRIBE HISTORY / DETAIL, table properties, CHECK constraints

Scale design
------------
All row-level work is DataFrame programs executed by Spark; the driver
only ever touches **metadata** (the commit log and file lists — KBs,
never rows). DML uses Delta's file-pruned rewrite: a metadata join
identifies the files that contain matched rows, only those files are
rewritten, untouched files carry over by reference. Snapshots are
plain ``spark.read.parquet(files)`` scans, so Catalyst pushdown /
pruning / AQE apply unchanged. On a real cluster the log directory
lives on the shared filesystem (S3/HDFS); single-writer optimistic
commit via atomic version-file creation.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import re
import shutil
import time
import urllib.parse
import uuid
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsio import LOCAL_FS, FileSystem
from .log import LOG_DIR, Commit, CommitLog, FileEntry, Snapshot, fold_properties

CHANGES_DIR = "_changes"
STAGING_DIR = "_staging"
DV_DIR = "_deletion_vectors"
BLOOM_DIR = "_bloom"
# JSON list of logical column names to index with per-file bloom
# filters (Delta's delta.bloomFilter.* index family): point/IN lookups
# on high-cardinality columns the table is NOT clustered by
BLOOM_PROP = "bloomfilter.columns"
BLOOM_FPP = 0.01
BLOOM_MAX_BITS = 1 << 23  # 1 MiB per column per file, hard cap
# Delta's write-tuning pair: optimizeWrite pre-shuffles each write to
# the partition layout (one-ish file per partition instead of
# tasks×partitions debris); autoCompact bin-packs a partition inline
# right after a write leaves it over the small-file threshold.
OPTWRITE_PROP = "autoOptimize.optimizeWrite"
AUTOCOMPACT_PROP = "autoOptimize.autoCompact"
AUTOCOMPACT_MIN_FILES_PROP = "autoOptimize.autoCompact.minNumFiles"

# Liquid-clustering-style CLUSTER BY: the table declares its clustering
# key once; a bare OPTIMIZE re-clusters on it (no ZORDER clause needed)
# and, with optimizeWrite on, ingest writes pre-sort each batch by the
# key so new files are born with tight min/max ranges.
CLUSTERING_PROP = "clustering.columns"

# Merge-on-read DELETE (Delta's deletion vectors): when this table
# property is "true", DELETE records (file, row_index) tombstones
# instead of rewriting data files; reads anti-join the tombstones via
# the parquet reader's _metadata.row_index. Low-selectivity deletes on
# a 100 TB table then cost O(matched rows) I/O instead of O(touched
# files) rewrite.
DV_PROP = "enableDeletionVectors"

CDF_PROP = "enableChangeDataFeed"

# Row tracking (Delta's delta.enableRowTracking): every ingested row
# gets a STABLE 64-bit row id that survives OPTIMIZE / ZORDER /
# UPDATE / DELETE-rewrite / MERGE-carry (fresh ids only for genuinely
# new rows), plus a row commit version that answers "when was this row
# last modified" without replaying CDF. Delta's exact two-tier layout:
#
# - FRESH rows are never materialized — their id is
#   ``baseRowId + _metadata.row_index`` (FileEntry.brid, allocated
#   driver-side at commit time from rowtracking.highWatermark: zero
#   extra jobs on the ingest path) and their commit version is the
#   version that added their file (FileEntry.rcv, Delta's
#   defaultRowCommitVersion).
# - REWRITES (OPTIMIZE / ZORDER / UPDATE / DELETE / MERGE) carry the
#   hidden ``__row_id`` / ``__row_commit`` columns forward
#   materialized; modified rows reset ``__row_commit`` to NULL so they
#   pick up the rewrite's version, carried rows keep theirs.
#
# Reads materialize ``coalesce(__row_id, brid + row_index)`` /
# ``coalesce(__row_commit, rcv)`` via one metadata-sized broadcast
# join against the file list. A concurrent commit whose only property
# change is the high watermark commutes (rebase re-allocates base row
# ids from the new head), so blind row-tracked appends stay
# conflict-free — Delta's row-id allocation semantics.
RT_PROP = "delta.enableRowTracking"
RT_WATERMARK_PROP = "rowtracking.highWatermark"
ROW_ID_COL = "__row_id"
ROW_COMMIT_COL = "__row_commit"

# Column mapping (Delta's name-mode column mapping): logical schema
# names are decoupled from the physical parquet column names, making
# RENAME COLUMN and DROP COLUMN metadata-only commits — no data-file
# rewrite, which at 100 TB is the difference between an instant DDL
# and a full-table job. MAPPING_PROP holds {logical: physical} (only
# non-identity entries); RESERVED_PROP holds physical names still
# present inside data files but no longer logically visible (dropped
# columns), so a later ADD COLUMN can't silently collide with them.
MAPPING_PROP = "columnmapping.map"
RESERVED_PROP = "columnmapping.reserved"

# Protocol / table features (Delta's table-features model,
# delta.io protocol spec "Table Features" + delta_utils.py's reliance
# on feature-gated behaviors like CDF and column mapping): every
# capability that changes how the table must be read or written is
# recorded as a ``delta.feature.<name> = supported`` property, stamped
# AUTOMATICALLY into the same commit that first uses the capability
# (Delta's implicit protocol upgrade). Readers refuse tables that
# require a feature this engine does not implement — the forward-
# compatibility contract that lets an old engine fail loudly instead
# of corrupting or misreading a newer table. minReader/minWriter
# versions mirror Delta's numbering (1/2 legacy, 3/7 = table-features).
FEATURE_PROP_PREFIX = "delta.feature."
MIN_READER_PROP = "delta.minReaderVersion"
MIN_WRITER_PROP = "delta.minWriterVersion"
# features that change READ semantics (reader+writer features)
READER_FEATURES = {"deletionVectors", "columnMapping", "typeWidening"}
# features that only constrain writers
WRITER_ONLY_FEATURES = {
    "rowTracking", "identityColumns", "generatedColumns",
    "changeDataFeed", "checkConstraints", "invariants",
    "defaultColumns", "clustering",
}
WRITER_FEATURES = READER_FEATURES | WRITER_ONLY_FEATURES


def _enabled_features(props: dict[str, str]) -> set[str]:
    return {
        k.removeprefix(FEATURE_PROP_PREFIX)
        for k, v in props.items()
        if k.startswith(FEATURE_PROP_PREFIX) and v == "supported"
    }


def _cluster_columns(props: dict[str, str]) -> list[str]:
    return [c for c in props.get(CLUSTERING_PROP, "").split(",") if c]


# Below this total table size, MERGE rewrites every file instead of
# running the pruning probe job — at small scale the probe costs more
# than the rewrite it avoids. Module-level so tests/tuning can override.
MERGE_PRUNE_THRESHOLD_BYTES = 4 * 1024 * 1024 * 1024

# Write a full-state checkpoint every N commits (Delta's default is 10):
# snapshot resolution then replays only the tail after the newest
# checkpoint instead of the whole log.
CHECKPOINT_INTERVAL = 10

# _change_type values (Delta CDF parity — delta_utils.py:398-402)
CT_INSERT = "insert"
CT_UPDATE_PRE = "update_preimage"
CT_UPDATE_POST = "update_postimage"
CT_DELETE = "delete"

# The one copy-on-write rewrite (LogTable._rewrite) labels every row it
# writes or drops with one action; a deleted or inserted row's action
# is also its change type. An UPDATE row carries its pre-image struct
# beside it only when the change feed is on.
ACTION_COL = "__action"
PRE_IMAGE_COL = "__pre_image"
KEEP, UPDATE, DELETE, INSERT = "keep", "update", CT_DELETE, CT_INSERT


class ConcurrentWriteError(RuntimeError):
    pass


class MetadataChangedError(ConcurrentWriteError):
    """A concurrent commit changed schema / partitioning / properties
    (or ours does and someone else committed anything): the losing
    transaction cannot be rebased safely (Delta's
    MetadataChangedException)."""


class ConcurrentDeleteError(ConcurrentWriteError):
    """A concurrent commit removed files this transaction also read and
    rewrote: file-level write-write conflict (Delta's
    ConcurrentDeleteReadException / ConcurrentDeleteDeleteException)."""


class ConcurrentTransactionError(ConcurrentWriteError):
    """A concurrent commit already performed this idempotent
    transaction's work (e.g. two COPY INTOs of the same source racing:
    the loser's file set was loaded by the winner; rebasing would
    double-load). Delta's ConcurrentTransactionException."""


class ConstraintViolationError(ValueError):
    pass


def _count_if(c: Column) -> Column:
    """Rows where ``c`` is TRUE (NULL counts as not true), 0 when none."""
    return F.coalesce(F.sum(F.when(c, 1).otherwise(0)), F.lit(0))


def _check_aggs(checks: dict[str, str], rows: Column | None = None) -> list[Column]:
    """One violation counter per write-time predicate, named
    ``__check_<name>``; a NULL predicate is not a violation. ``rows``
    limits the count to the rows the write keeps."""
    def bad(pred: str) -> Column:
        v = ~F.expr(pred)
        return v if rows is None else rows & v

    return [_count_if(bad(p)).alias(f"__check_{n}") for n, p in checks.items()]


class UnsupportedTableFeatureError(RuntimeError):
    """The table requires a protocol feature this engine does not
    implement (Delta's InvalidProtocolVersionException /
    unsupported-table-feature errors): refuse loudly rather than
    misread or corrupt a newer table."""


# max columns to carry min/max stats for (Delta's
# dataSkippingNumIndexedCols default) — bounds commit-log size.
# Override per table via the dataSkippingNumIndexedCols property
# (0 disables stats collection entirely for write-heavy tables).
STATS_MAX_COLS = 32
STATS_COLS_PROP = "dataSkippingNumIndexedCols"


def _parquet_file_stats(
    path: str, max_cols: int = STATS_MAX_COLS
) -> tuple[int, int, dict[str, list] | None]:
    """(num_records, size_bytes, per-column ``[min, max]`` or
    ``[min, max, null_count]``) from the parquet footer — metadata
    only, no data read. min/max are kept for top-level
    int/float/str/bool columns whose every row group publishes them
    (parquet string stats may be footer-truncated, which is still
    range-conservative: truncated min <= true min, max >= true max).
    null_count is tracked independently — a column whose min/max is
    unusable (e.g. DECIMAL) can still prune ``IS [NOT] NULL``
    predicates, carried as ``[None, None, null_count]``.

    On a cluster these stats would be collected executor-side at write
    time and shipped in the add action (Delta's ``add.stats`` JSON); in
    local mode the driver reads the footers it just renamed."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    lo: dict[str, Any] = {}
    hi: dict[str, Any] = {}
    nc: dict[str, int] = {}
    dead: set[str] = set()
    nc_dead: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(min(md.num_columns, max_cols)):
            col = g.column(i)
            name = col.path_in_schema
            if "." in name:  # nested
                continue
            st = col.statistics
            if name not in nc_dead:
                try:
                    n_nulls = st.null_count if st is not None else None
                except Exception:
                    n_nulls = None
                if n_nulls is None:
                    nc_dead.add(name)
                    nc.pop(name, None)
                else:
                    nc[name] = nc.get(name, 0) + int(n_nulls)
            if name in dead:
                continue
            try:
                # pyarrow raises ArrowNotImplementedError *on access*
                # for types it can't cast stats for (e.g. DECIMAL)
                bad = (
                    st is None
                    or not st.has_min_max
                    or not isinstance(st.min, (int, float, str, bool))
                    or not isinstance(st.max, (int, float, str, bool))
                )
            except Exception:
                bad = True
            if bad:
                dead.add(name)
                lo.pop(name, None)
                hi.pop(name, None)
                continue
            lo[name] = st.min if name not in lo else min(lo[name], st.min)
            hi[name] = st.max if name not in hi else max(hi[name], st.max)
    stats: dict[str, list] = {}
    for k in lo:
        stats[k] = [lo[k], hi[k]] + ([nc[k]] if k in nc else [])
    for k in nc:
        if k not in stats:
            stats[k] = [None, None, nc[k]]
    return md.num_rows, os.path.getsize(path), stats or None


# ---- bloom-filter sidecar index (equality/IN skipping) --------------------
#
# Why sidecars and not inline stats: a useful bloom for a 1 M-row file
# is ~1 MB — inlining it in the commit log would make log replay scan
# gigabytes at production file counts. Delta makes the same call with
# its index files. The log carries only the sidecar PATH; pruning loads
# blooms lazily, only for files that min/max skipping kept, and caches
# them (the candidate set after stats pruning is what a query actually
# touches, so the extra reads are O(files-to-be-scanned), each ~1 MB).


def _bloom_params(n: int, fpp: float = BLOOM_FPP) -> tuple[int, int]:
    """(m bits, k hashes) for n values at the target false-positive
    rate — standard Bloom sizing, capped at BLOOM_MAX_BITS."""
    import math

    n = max(n, 1)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2)) + 1
    m = max(64, min(m, BLOOM_MAX_BITS))
    k = max(1, min(16, round(m / n * math.log(2))))
    return m, k


def _bloom_hashes(value) -> tuple[int, int]:
    """Two independent 64-bit hashes (Kirsch–Mitzenmacher double
    hashing) from a canonical string form: ints and their decimal
    string collide deliberately — blooms tolerate false positives and
    predicate literals arrive as either."""
    d = hashlib.blake2b(str(value).encode("utf-8"), digest_size=16).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


def _bloom_build(values, n_hint: int) -> dict:
    m, k = _bloom_params(n_hint)
    bits = bytearray((m + 7) // 8)
    for v in values:
        if v is None:
            continue
        h1, h2 = _bloom_hashes(v)
        for i in range(k):
            idx = (h1 + i * h2) % m
            bits[idx >> 3] |= 1 << (idx & 7)
    return {"m": m, "k": k, "bits": base64.b64encode(bytes(bits)).decode()}


def _bloom_contains(flt: dict, value) -> bool:
    m, k, bits = flt["m"], flt["k"], flt["_raw"]
    h1, h2 = _bloom_hashes(value)
    for i in range(k):
        idx = (h1 + i * h2) % m
        if not bits[idx >> 3] & (1 << (idx & 7)):
            return False
    return True


# ---- predicate ↔ file-stats evaluation (data skipping) --------------------

_CMP_RE = re.compile(r"^\s*(\w+)\s*(==|=|<=|>=|<|>)\s*(.+?)\s*$")
_CMP_FLIP_RE = re.compile(r"^\s*(.+?)\s*(==|=|<=|>=|<|>)\s*(\w+)\s*$")
_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "==": "=="}


def _parse_sql_literal(s: str):
    s = s.strip()
    if re.fullmatch(r"-?\d+", s):
        return int(s)
    if re.fullmatch(r"-?\d+\.\d*", s):
        return float(s)
    m = re.fullmatch(r"'([^']*)'", s) or re.fullmatch(r'"([^"]*)"', s)
    if m:
        return m.group(1)
    return None


_LIT = r"(?:'[^']*'|\"[^\"]*\"|-?\d+(?:\.\d*)?)"
_IS_NULL_RE = re.compile(r"^(\w+)\s+IS\s+NULL$", re.I)
_IS_NOT_NULL_RE = re.compile(r"^(\w+)\s+IS\s+NOT\s+NULL$", re.I)
_IN_RE = re.compile(rf"^(\w+)\s+IN\s*\(\s*({_LIT}(?:\s*,\s*{_LIT})*)\s*\)$", re.I)
_BETWEEN_RE = re.compile(rf"\b(\w+)\s+BETWEEN\s+({_LIT})\s+AND\s+({_LIT})", re.I)


def _parse_conjuncts(condition: str) -> list[tuple[str, str, Any]]:
    """Necessary-condition conjuncts of a pure AND-conjunction, each
    ``(col, op, value)`` with op in ``= == < <= > >= null notnull in``;
    [] when the predicate has an OR (then no conjunct is necessary).
    Parts that don't strictly match a recognized form contribute
    nothing — ignoring a conjunct is always skip-safe."""
    if re.search(r"\bOR\b", condition, re.IGNORECASE):
        return []
    # BETWEEN folds to two range conjuncts BEFORE the AND split (its
    # embedded AND would otherwise shred it into unparseable halves)
    condition = _BETWEEN_RE.sub(r"\1 >= \2 AND \1 <= \3", condition)
    out = []
    for part in re.split(r"\bAND\b", condition, flags=re.IGNORECASE):
        part = part.strip()
        if m := _IS_NOT_NULL_RE.match(part):
            out.append((m.group(1), "notnull", None))
            continue
        if m := _IS_NULL_RE.match(part):
            out.append((m.group(1), "null", None))
            continue
        if m := _IN_RE.match(part):
            lits = [
                _parse_sql_literal(x)
                for x in re.findall(_LIT, m.group(2))
            ]
            if lits and all(v is not None for v in lits):
                out.append((m.group(1), "in", lits))
            continue
        m = _CMP_RE.match(part)
        if m and (lit := _parse_sql_literal(m.group(3))) is not None:
            out.append((m.group(1), m.group(2), lit))
            continue
        m = _CMP_FLIP_RE.match(part)
        if m and (lit := _parse_sql_literal(m.group(1))) is not None:
            out.append((m.group(3), _FLIP[m.group(2)], lit))
    return out


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_values(path: str) -> dict[str, str | None]:
    """hive-style ``k=v`` dir segments of a file path, decoded back to
    the logical value: percent-escapes undone (Spark's writer escapes
    ``:``, ``%``, control chars… as ``%XX``) and the hive NULL marker
    mapped to ``None``. Comparing raw segments against unescaped SQL
    literals silently mis-prunes files — the round-2 data-corruption
    bug."""
    out: dict[str, str | None] = {}
    for seg in path.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = None if v == _HIVE_NULL else urllib.parse.unquote(v)
    return out


def _stats_may_match(f: FileEntry, conjuncts: list[tuple[str, str, Any]]) -> bool:
    """False only when some conjunct PROVABLY excludes every row of the
    file, judged from column [min,max(,null_count)] stats or the
    partition-path value. Missing stats / non-comparable types keep
    the file."""
    num = (int, float)

    def comparable(lo, hi, lit):
        return (
            isinstance(lo, num) and isinstance(hi, num) and isinstance(lit, num)
            and not isinstance(lit, bool)
        ) or (isinstance(lo, str) and isinstance(hi, str) and isinstance(lit, str))

    part_vals = _partition_values(f.path)
    for col, op, lit in conjuncts:
        if col in part_vals:
            pv = part_vals[col]
            if pv is None:
                # NULL partition: IS NULL matches everything, anything
                # else (comparison / IN / IS NOT NULL) matches no rows
                if op != "null":
                    return False
                continue
            if op == "null":  # non-null partition value → no NULL rows
                return False
            # path values are strings; numeric literals compare through
            # a numeric parse of the path value (lexicographic string
            # compare of numbers would be wrong — "10" < "9")
            def pv_num():
                try:
                    return float(pv)
                except ValueError:
                    return None

            is_num = isinstance(lit, num) and not isinstance(lit, bool)
            if op in ("=", "=="):
                if isinstance(lit, str) and pv != lit:
                    return False
                if is_num and pv_num() is not None and pv_num() != lit:
                    return False
            elif op == "in":
                if all(isinstance(v, str) for v in lit) and pv not in lit:
                    return False
                if (
                    all(isinstance(v, num) and not isinstance(v, bool) for v in lit)
                    and pv_num() is not None
                    and pv_num() not in [float(v) for v in lit]
                ):
                    return False
            elif is_num and pv_num() is not None:
                n = pv_num()
                if op == "<" and not n < lit:
                    return False
                if op == "<=" and not n <= lit:
                    return False
                if op == ">" and not n > lit:
                    return False
                if op == ">=" and not n >= lit:
                    return False
            continue
        if not f.stats or col not in f.stats:
            continue
        s = f.stats[col]
        lo, hi = s[0], s[1]
        nulls = s[2] if len(s) > 2 else None
        if op == "null":
            if nulls == 0:
                return False
            continue
        if op == "notnull":
            if nulls is not None and nulls >= f.num_records:
                return False
            continue
        # every remaining op only matches non-NULL values: a file whose
        # indexed column is entirely NULL (no min/max) can't match
        if nulls is not None and nulls >= f.num_records:
            return False
        if op == "in":
            if all(
                comparable(lo, hi, v) and (v < lo or v > hi) for v in lit
            ) and lit:
                return False
            continue
        if not comparable(lo, hi, lit):
            continue
        if op in ("=", "==") and (lit < lo or lit > hi):
            return False
        if op == "<" and lo >= lit:
            return False
        if op == "<=" and lo > lit:
            return False
        if op == ">" and hi <= lit:
            return False
        if op == ">=" and hi < lit:
            return False
    return True


class LogTable:
    """One log-structured table rooted at ``path``."""

    def __init__(
        self, spark: SparkSession, path: str, fs: FileSystem = LOCAL_FS
    ):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log = CommitLog(self.path, fs)
        # one-shot commit annotation queued by with_user_metadata()
        self._pending_user_metadata: str | None = None

    # ------------------------------------------------------------------
    # log plumbing (driver-side metadata only)
    # ------------------------------------------------------------------

    @property
    def fs(self) -> FileSystem:
        """Driver-side metadata I/O seam (see fsio.py), shared with the log."""
        return self.log.fs

    @fs.setter
    def fs(self, fs: FileSystem) -> None:
        self.log.fs = fs

    def exists(self) -> bool:
        return self.log.exists()

    def commits(self) -> list[Commit]:
        """Every commit in the log, from a fresh listing (see CommitLog),
        so commits written by OTHER handles — streaming sinks,
        concurrent writers, pruners — are always seen."""
        return self.log.commits()

    def version(self) -> int:
        vs = self.log.versions()
        if not vs:
            raise FileNotFoundError(f"not a log table: {self.path}")
        return vs[-1]

    def _required_features(self, commit: Commit, eff: dict[str, str]) -> set[str]:
        """Features the table state after ``commit`` relies on — derived
        from the capability markers, so enabling a capability anywhere
        (DDL, property, first DV delete) upgrades the protocol in that
        same commit."""
        need: set[str] = set()
        if commit.dvs or eff.get(DV_PROP) == "true":
            need.add("deletionVectors")
        if eff.get(CDF_PROP) == "true":
            need.add("changeDataFeed")
        if eff.get(RT_PROP) == "true":
            need.add("rowTracking")
        if eff.get(MAPPING_PROP) or eff.get(RESERVED_PROP):
            need.add("columnMapping")
        if eff.get(CLUSTERING_PROP):
            need.add("clustering")
        for k in eff:
            if k.startswith("identity."):
                need.add("identityColumns")
            elif k.startswith("generated."):
                need.add("generatedColumns")
            elif k.startswith("constraint."):
                need.add("checkConstraints")
            elif k.startswith("notnull."):
                need.add("invariants")
            elif k.startswith("default."):
                need.add("defaultColumns")
        return need

    def _stamp_protocol(self, commit: Commit, props: dict[str, str]) -> None:
        """Write gate + implicit protocol upgrade (Delta table
        features): refuse to write a table whose enabled features this
        engine does not implement, and stamp ``delta.feature.*`` /
        min-version properties into the SAME commit that first uses a
        capability. Steady-state commits see no missing features and
        are left untouched — only the first enabling commit becomes a
        metadata commit (matching Delta's one-time protocol upgrade).
        ``props`` are the table properties before ``commit``."""
        eff = fold_properties(props, commit)
        enabled = _enabled_features(eff)
        unknown = enabled - WRITER_FEATURES
        if unknown:
            raise UnsupportedTableFeatureError(
                f"{self.path} requires table feature(s) {sorted(unknown)} "
                "this engine does not implement — refusing to write"
            )
        missing = self._required_features(commit, eff) - enabled
        if missing:
            add = {FEATURE_PROP_PREFIX + f: "supported" for f in missing}
            allf = enabled | missing
            add[MIN_READER_PROP] = (
                "3" if (allf & READER_FEATURES) else eff.get(MIN_READER_PROP, "1")
            )
            add[MIN_WRITER_PROP] = "7"
            commit.properties = {**(commit.properties or {}), **add}

    def _commit(self, commit: Commit, props: dict[str, str]) -> None:
        """Atomic optimistic commit: create-exclusive the version file.
        ``props`` are the table properties before ``commit``."""
        self._stamp_protocol(commit, props)
        # in-commit-timestamp monotonicity (Delta's inCommitTimestamp
        # guarantee): the stamped timestamp lives IN the commit record
        # (never file mtime), and must strictly increase with version —
        # a backwards clock step would otherwise make TIMESTAMP AS OF
        # resolve to the wrong version (`_replay` picks the last commit
        # with ts <= target, which assumes sorted timestamps). Clamp to
        # predecessor + 1ms, exactly Delta's ICT rule. The predecessor
        # is cached: the snapshot or the rebase listing read it.
        prev = self.log.cache.get(commit.version - 1)
        if prev is not None:
            commit.timestamp = max(commit.timestamp, prev.timestamp + 0.001)
        # put-if-absent is the whole commit protocol: optimistic
        # concurrency without a lock service (local: atomic hard link;
        # object stores: conditional PUT — see fsio.py). It also refuses
        # a slot a concurrent pruner emptied below its checkpoint.
        if not self.log.put(commit):
            raise ConcurrentWriteError(
                f"version {commit.version} already committed or pruned at {self.path}"
            )
        after = fold_properties(props, commit)
        try:
            # interval from delta.checkpointInterval when set (per-table
            # tuning for high-commit-rate workloads), Delta's 10 default
            interval = int(after.get("delta.checkpointInterval", CHECKPOINT_INTERVAL))
        except ValueError:
            interval = CHECKPOINT_INTERVAL
        if commit.version > 0 and commit.version % max(1, interval) == 0:
            try:
                self.log.write_checkpoint(commit.version)
                self._prune_log(after)
            except Exception:
                pass  # optimization only — never fail a landed commit

    def _commit_tx(self, commit: Commit, snap: Snapshot, attempts: int = 15) -> int:
        """Commit a transaction that read ``snap`` (WriteSerializable,
        Delta's default isolation, VLDB 2020 §3). Read-version rule: the
        commit is proposed at ``snap.version + 1``, so every commit that
        landed after the read — also while the op scanned and wrote
        data — collides with it. On a collision the commits after the
        read version are checked for *logical* conflicts against ours
        and their properties are folded into the snapshot's (the table
        state is not read again); when the operations commute, the
        commit is rebased onto the newest of them and retried.

        The conflict matrix (file-granular, matching Delta's public
        semantics at https://docs.delta.io/latest/concurrency-control.html):

        - metadata change (schema / partitioning / properties) on either
          side → :class:`MetadataChangedError`; never rebased.
        - both transactions removed the same file → our rewrite read
          state another writer already rewrote →
          :class:`ConcurrentDeleteError`; never rebased.
        - otherwise the operations commute at file granularity (blind
          appends commute with everything; disjoint rewrites compose)
          → renumber, restamp, retry. Every DML path in this class reads
          exactly the files it removes, so the remove-set overlap test
          IS the read-write conflict test.

        Returns the version the commit finally landed at — callers that
        stamp the version into follow-on artifacts (CDF files) must use
        the return value, not the version they proposed.
        """
        if commit.user_metadata is None:
            # Delta precedence: per-write annotation beats the session
            # conf; the conf annotates every commit while it is set
            um = self._pending_user_metadata
            if um is None:
                um = (
                    self.spark.conf.get(
                        "spark.databricks.delta.commitInfo.userMetadata", None
                    )
                    or None
                )
            commit.user_metadata = um
        self._pending_user_metadata = None
        props = snap.properties
        commit.version = snap.version + 1
        # row tracking: stamp fresh add entries with their default row
        # commit version (the version this commit actually lands at)
        # and allocate their base-row-id ranges from the high
        # watermark — re-done on every rebase attempt so a lost race
        # can't leave stale versions or double-allocated id ranges.
        # Entries arriving with rcv/brid set (RESTORE replays, clones)
        # are preserved verbatim.
        rt_fresh: list[FileEntry] = []
        if props.get(RT_PROP) == "true" or (
            # the commit itself may be the one enabling row tracking
            # (SET TBLPROPERTIES backfill)
            (commit.properties or {}).get(RT_PROP) == "true"
        ):
            rt_fresh = [f for f in commit.add if f.rcv is None]
        for _ in range(attempts):
            if rt_fresh:
                wm = int(props.get(RT_WATERMARK_PROP, "0"))
                for f in rt_fresh:
                    f.rcv = commit.version
                    f.brid = wm + 1
                    wm += f.num_records
                commit.properties = {
                    **(commit.properties or {}),
                    RT_WATERMARK_PROP: str(wm),
                }
            try:
                self._commit(commit, props)
                return commit.version
            except ConcurrentWriteError:
                theirs = [c for c in self.commits() if c.version >= commit.version]
                self._check_rebase_conflicts(commit, theirs)
                for c in theirs:
                    props = fold_properties(props, c)
                if theirs:
                    commit.version = theirs[-1].version + 1
                commit.timestamp = time.time()
        raise ConcurrentWriteError(
            f"commit to {self.path} lost {attempts} consecutive races; giving up"
        )

    def _commit_op(self, snap: Snapshot, operation: str, **fields: Any) -> int:
        """Commit a new ``operation`` (``fields`` as in :class:`Commit`)
        against ``snap``, the snapshot the operation read."""
        return self._commit_tx(
            Commit(snap.version + 1, time.time(), operation, **fields), snap
        )

    def _check_rebase_conflicts(self, ours: Commit, theirs: list[Commit]) -> None:
        """Raise a typed conflict error if ``ours`` cannot be replayed
        on top of ``theirs`` (see :meth:`_commit_tx`)."""
        if theirs and theirs[0].version != ours.version:
            # the commits that won the race were pruned before we could
            # read them: nothing can be checked, so nothing is rebased
            raise ConcurrentWriteError(
                f"{self.path}: commits racing {ours.operation} at version "
                f"{ours.version} were pruned from the log; retry it"
            )

        def _is_meta(c: Commit) -> bool:
            # a properties payload whose ONLY key is the row-tracking
            # high watermark is allocation bookkeeping, not a metadata
            # change: both sides commute because the rebase loop
            # re-allocates base row ids from the new head's watermark
            return (
                c.schema_json is not None
                or c.partition_by is not None
                or (
                    c.properties is not None
                    and set(c.properties) != {RT_WATERMARK_PROP}
                )
            )

        meta_theirs = [c.operation for c in theirs if _is_meta(c)]
        if meta_theirs:
            raise MetadataChangedError(
                f"{self.path}: concurrent metadata change ({meta_theirs}) "
                f"while committing {ours.operation}"
            )
        if _is_meta(ours):
            raise MetadataChangedError(
                f"{self.path}: {ours.operation} changes table metadata and "
                f"lost the race to {[c.operation for c in theirs]}"
            )
        # idempotent-transaction conflict: a racing COPY INTO of the
        # same source already loaded (some of) our files — rebasing
        # would duplicate their rows (Delta's txn-version check)
        if ours.operation == "COPY INTO":
            ours_files = {tuple(x) for x in ours.parameters.get("sourceFiles", [])}
            for c in theirs:
                if (
                    c.operation == "COPY INTO"
                    and c.parameters.get("source") == ours.parameters.get("source")
                    and ours_files
                    & {tuple(x) for x in c.parameters.get("sourceFiles", [])}
                ):
                    raise ConcurrentTransactionError(
                        f"{self.path}: concurrent COPY INTO from "
                        f"{ours.parameters.get('source')!r} already loaded "
                        "overlapping files; re-run to pick up the remainder"
                    )
        # the same for a streaming micro-batch: a racing commit of the
        # same stream already wrote this batch (or a later one)
        sid, bid = ours.parameters.get("streamId"), ours.parameters.get("batchId")
        if sid is not None and bid is not None and any(
            c.parameters.get("streamId") == sid and c.parameters.get("batchId", -1) >= bid
            for c in theirs
        ):
            raise ConcurrentTransactionError(
                f"{self.path}: batch {bid} of stream {sid!r} was already "
                "committed by a concurrent writer"
            )
        their_removed = {p for c in theirs for p in c.remove}
        overlap = set(ours.remove) & their_removed
        if overlap:
            raise ConcurrentDeleteError(
                f"{self.path}: {ours.operation} rewrote files also rewritten "
                f"by a concurrent {[c.operation for c in theirs]}: "
                f"{sorted(overlap)[:3]}..."
            )
        # deletion vectors vs rewrites do NOT commute in either
        # direction: our DV targets a file another writer rewrote (our
        # tombstones would silently vanish), or our rewrite read rows a
        # concurrent DV already deleted (we would resurrect them).
        # Concurrent DVs on the same file DO commute (union semantics).
        dv_on_removed = set(ours.dvs) & their_removed
        removed_with_dv = set(ours.remove) & {
            p for c in theirs for p in c.dvs
        }
        if dv_on_removed or removed_with_dv:
            raise ConcurrentDeleteError(
                f"{self.path}: {ours.operation} conflicts with concurrent "
                f"deletion vectors / rewrites on "
                f"{sorted(dv_on_removed | removed_with_dv)[:3]}..."
            )

    # ---- log retention -------------------------------------------------

    def _prune_log(self, props: dict[str, str]) -> None:
        """Delta's log cleanup (``delta.logRetentionDuration``, 30-day
        default): at checkpoint time, delete commit JSONs that are (a)
        older than the retention horizon AND (b) strictly below the
        SECOND-newest checkpoint — so even a damaged newest checkpoint
        still reconstructs from the older one plus its tail, and time
        travel within retention always works. Checkpoints below the
        kept pair are deleted with their commits. Bounds log growth on
        a long-lived table (a year of minutely commits is ~0.5 M log
        files without this); time travel beyond retention reports
        'version not found', exactly like Delta. ``props`` are the
        table properties at the checkpoint."""
        cps = self.log.checkpoint_versions()
        if len(cps) < 2:
            return
        hours = self._parse_interval_hours(
            props.get("delta.logRetentionDuration", ""), 720.0
        )
        horizon = time.time() - hours * 3600
        ts = {c.version: c.timestamp for c in self.commits()}
        # prune at checkpoint granularity: everything strictly below the
        # newest checkpoint that itself predates the horizon — so every
        # surviving version has a checkpoint at or below it with a
        # complete commit tail (never a silently-partial replay). The
        # newest checkpoint is never the cut, preserving the
        # damaged-checkpoint fallback to an older one.
        eligible = [v for v in cps[:-1] if ts.get(v, time.time()) <= horizon]
        if eligible:
            self.log.prune_below(eligible[-1])

    # ---- snapshot state ------------------------------------------------

    def _replay(
        self, version: int | None = None, timestamp: float | None = None
    ) -> Snapshot:
        """The :class:`Snapshot` at ``version`` (default: the newest);
        see :meth:`CommitLog.snapshot`. A ``timestamp`` selects the last
        commit at or before it."""
        if timestamp is not None:
            eligible = [c.version for c in self.commits() if c.timestamp <= timestamp]
            if not eligible:
                raise ValueError(f"no commit at or before timestamp {timestamp}")
            version = eligible[-1]
        return self.log.snapshot(version)

    def schema(self) -> T.StructType:
        return self._replay().schema

    def partition_columns(self) -> list[str]:
        return self._replay().partition_by

    def properties(self) -> dict[str, str]:
        return self._replay().properties

    def add_columns(self, new_fields: list[T.StructField]) -> None:
        """ALTER TABLE ADD COLUMNS (K9 — 04_acid_operations.py:288-296):
        additive schema evolution as a metadata-only commit; existing
        files surface NULL for the new columns on read."""
        snap = self._replay()
        current = snap.schema
        names = {f.name for f in current.fields}
        dup = [f.name for f in new_fields if f.name in names]
        if dup:
            raise ValueError(f"columns already exist: {dup}")
        self._guard_new_columns([f.name for f in new_fields], snap.properties)
        evolved = T.StructType(list(current.fields) + list(new_fields))
        self._commit_op(
            snap,
            "ADD COLUMNS",
            schema_json=evolved.json(),
            parameters={"columns": [f.name for f in new_fields]},
        )

    def unset_properties(self, keys: list[str]) -> None:
        """ALTER TABLE UNSET TBLPROPERTIES — also the mechanism behind
        DROP CONSTRAINT (constraints live as ``constraint.*`` props)."""
        snap = self._replay()
        remaining = {
            k: v for k, v in snap.properties.items() if k not in set(keys)
        }
        self._commit_op(
            snap,
            "UNSET TBLPROPERTIES",
            properties=remaining,
            parameters={"unset": list(keys)},
        )

    def drop_feature(self, name: str) -> None:
        """ALTER TABLE DROP FEATURE (Delta 3.x protocol downgrade):
        remove a table feature once nothing in the table relies on it —
        e.g. deletionVectors after disabling the property and purging
        every DV via ``REORG TABLE ... APPLY (PURGE)``. Refuses while
        the capability is still in use; min reader/writer versions are
        recomputed from the remaining feature set."""
        snap = self._replay()
        props = snap.properties
        key = FEATURE_PROP_PREFIX + name
        if key not in props:
            raise KeyError(f"feature not enabled on {self.path}: {name}")
        in_use = {
            "deletionVectors": lambda: props.get(DV_PROP) == "true"
            or any(f.dv for f in snap.files),
            "changeDataFeed": lambda: props.get(CDF_PROP) == "true",
            "rowTracking": lambda: props.get(RT_PROP) == "true",
            "columnMapping": lambda: bool(
                props.get(MAPPING_PROP) or props.get(RESERVED_PROP)
            ),
            "clustering": lambda: bool(props.get(CLUSTERING_PROP)),
            "identityColumns": lambda: any(
                k.startswith("identity.") for k in props
            ),
            "generatedColumns": lambda: any(
                k.startswith("generated.") for k in props
            ),
            "checkConstraints": lambda: any(
                k.startswith("constraint.") for k in props
            ),
            "invariants": lambda: any(k.startswith("notnull.") for k in props),
            "defaultColumns": lambda: any(
                k.startswith("default.") for k in props
            ),
        }
        if name not in in_use:
            # typeWidening & friends: files written before the widening
            # still carry the narrow type — the feature can never be
            # proven unused without a full rewrite
            raise ValueError(
                f"feature {name!r} cannot be dropped (files may still "
                "depend on it)"
            )
        if in_use[name]():
            raise ValueError(
                f"feature {name!r} is still in use on {self.path} — "
                "disable the property / remove its uses first"
            )
        remaining = {k: v for k, v in props.items() if k != key}
        enabled = _enabled_features(remaining)
        remaining[MIN_READER_PROP] = "3" if (enabled & READER_FEATURES) else "1"
        remaining[MIN_WRITER_PROP] = "7" if enabled else "2"
        self._commit_op(
            snap,
            "DROP FEATURE",
            properties=remaining,
            parameters={"feature": name},
        )

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES (delta_utils.py:149-166).

        Enabling row tracking on an EXISTING table backfills base row
        ids for every active file in the same commit (Delta's enable
        backfill) — metadata-only: ids derive from brid + row_index, no
        file is rewritten at any table size."""
        snap = self._replay()
        cur = snap.properties
        merged = {**cur, **props}
        backfill: list[FileEntry] = []
        if props.get(RT_PROP) == "true" and cur.get(RT_PROP) != "true":
            # re-add every unstamped active entry; _commit_tx assigns
            # brid ranges + rcv with the version the commit lands at
            backfill = [f for f in snap.files if f.brid is None]
        self._commit_op(
            snap,
            "SET TBLPROPERTIES",
            add=backfill,
            properties=merged,
            parameters={"properties": props},
        )

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        timestamp: float | None = None,
        where: str | None = None,
        row_tracking: bool = False,
    ) -> DataFrame:
        """Snapshot read; ``version``/``timestamp`` give time travel
        (S8 — 05_time_travel_demo.py:103-109,211-213).

        ``where`` enables stats-based data skipping BEFORE the scan:
        files whose per-column [min,max] (or partition-path value)
        provably exclude every conjunct are dropped from the file list
        — Delta's read-path data skipping. The predicate is also
        applied as a normal filter, so results are identical to
        ``read().filter(where)``; only the I/O differs. Catalyst's
        parquet row-group pruning still applies within surviving files.

        ``row_tracking=True`` (row-tracked tables) appends ``_row_id``
        (stable across rewrites) and ``_row_commit_version`` (the
        version that last MODIFIED the row — compaction doesn't bump
        it) — Delta's row-tracking metadata columns. Rows ingested
        before row tracking was enabled surface NULL ids.
        """
        snap = self._replay(version, timestamp)
        files, props = snap.files, snap.properties
        unknown = _enabled_features(props) - WRITER_FEATURES
        if unknown:
            # reader gate: an unknown feature may change read semantics
            # (we cannot know it is writer-only) — refuse, don't misread
            raise UnsupportedTableFeatureError(
                f"{self.path} requires table feature(s) {sorted(unknown)} "
                "this engine does not implement — refusing to read"
            )
        if where is not None:
            files = self._skip_files(files, self._physical_conjuncts(where, props))
        df = self._read_entries(
            files, snap.schema, props, with_row_tracking=row_tracking
        )
        if row_tracking:
            df = df.withColumnRenamed(ROW_ID_COL, "_row_id").withColumnRenamed(
                ROW_COMMIT_COL, "_row_commit_version"
            )
        if where is not None:
            df = df.filter(F.expr(where))
        return df

    def prune_stats(self, where: str, version: int | None = None) -> dict[str, int]:
        """Deterministic data-skipping metric: how many files
        ``read(where=...)`` would skip via per-file [min,max] / partition
        stats / bloom sidecars, without running the scan. Wall-time
        alone has proven too blunt a gauge for clustering quality
        (round-3 false positive, round-4 true zero) — this is the
        direct observable."""
        files, _, _, props, _ = self._replay(version)
        kept = self._skip_files(files, self._physical_conjuncts(where, props))
        return {
            "files_total": len(files),
            "files_read": len(kept),
            "files_skipped": len(files) - len(kept),
        }

    # ---- bloom sidecar plumbing --------------------------------------

    def _write_bloom_sidecar(
        self, abs_path: str, rel_path: str, bloom_phys: list[str], n_rows: int
    ) -> str | None:
        """Build and persist the per-file bloom sidecar for the indexed
        columns present in the file; returns its table-relative path.

        Values are read back column-at-a-time from the just-written
        parquet (footer-adjacent, no full-row decode); on a cluster
        this would run executor-side in the write task, like stats."""
        if not bloom_phys:
            return None
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        pf = pq.ParquetFile(abs_path)
        present = [c for c in bloom_phys if c in pf.schema_arrow.names]
        ok_types = [
            c
            for c in present
            # ints and strings only — float repr instability across
            # engines would defeat canonical-string membership
            if pat.is_integer(pf.schema_arrow.field(c).type)
            or pat.is_string(pf.schema_arrow.field(c).type)
            or pat.is_large_string(pf.schema_arrow.field(c).type)
        ]
        if not ok_types:
            return None
        tbl = pf.read(columns=ok_types)
        cols = {
            c: _bloom_build(tbl.column(c).to_pylist(), n_rows) for c in ok_types
        }
        rel = os.path.join(BLOOM_DIR, rel_path + ".bloom.json")
        dst = os.path.join(self.path, rel)
        self.fs.makedirs(os.path.dirname(dst))
        self.fs.write_text(dst, json.dumps({"cols": cols}))
        return rel

    def _load_bloom(self, f: FileEntry) -> dict | None:
        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = self._bloom_cache = {}
        if f.bloom in cache:
            return cache[f.bloom]
        try:
            raw = json.loads(
                self.fs.read_text(os.path.join(f.base or self.path, f.bloom))
            )
            for flt in raw["cols"].values():
                flt["_raw"] = base64.b64decode(flt["bits"])
        except Exception:
            raw = None  # missing/corrupt sidecar → no pruning, still correct
        if len(cache) > 1024:
            cache.clear()
        cache[f.bloom] = raw
        return raw

    def _skip_files(
        self, files: list[FileEntry], conj: list[tuple[str, str, Any]]
    ) -> list[FileEntry]:
        """Stats skipping, then bloom skipping for = / IN conjuncts on
        indexed columns — in that order, so sidecars are only loaded
        for files the cheap metadata checks could not eliminate."""
        if not conj:
            return files
        files = [f for f in files if _stats_may_match(f, conj)]
        point = [
            (c, [v] if op in ("=", "==") else v)
            for c, op, v in conj
            if op in ("=", "==", "in")
        ]
        if not point or not any(f.bloom for f in files):
            return files
        kept = []
        for f in files:
            raw = self._load_bloom(f) if f.bloom else None
            if raw is None:
                kept.append(f)
                continue
            excluded = any(
                c in raw["cols"]
                and not any(_bloom_contains(raw["cols"][c], v) for v in vals)
                for c, vals in point
            )
            if not excluded:
                kept.append(f)
        return kept

    def read_changes(
        self,
        starting_version: int = 0,
        ending_version: int | None = None,
    ) -> DataFrame:
        """CDF scan (S9 — delta_utils.py:387-416): rows with
        ``_change_type`` ∈ {insert, update_preimage, update_postimage,
        delete}, ``_commit_version``, ``_commit_timestamp``."""
        snap = self._replay()
        if snap.properties.get(CDF_PROP, "false") != "true":
            raise ValueError(f"{CDF_PROP} is not enabled on {self.path}")
        end = ending_version if ending_version is not None else snap.version
        schema = snap.schema
        cdf_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.TimestampType()),
            ]
        )
        dirs = []
        for c in self.commits():
            if starting_version <= c.version <= end:
                d = os.path.join(self.path, CHANGES_DIR, f"v={c.version:020d}")
                if self.fs.isdir(d) and any(
                    n.endswith(".parquet") for n in self.fs.listdir(d)
                ):
                    dirs.append(d)
        if not dirs:
            return self.spark.createDataFrame([], cdf_schema)
        mapping = self._column_mapping(snap.properties)
        df = self.spark.read.parquet(*dirs)
        return df.select(
            *[
                F.col(mapping.get(f.name, f.name)).alias(f.name)
                for f in cdf_schema.fields
            ]
        )

    def with_user_metadata(self, message: str) -> "LogTable":
        """Queue a free-form annotation for the NEXT commit (Delta's
        ``.option("userMetadata", ...)``): one-shot, recorded in the
        commit log and surfaced by DESCRIBE HISTORY. The session-conf
        spelling ``spark.databricks.delta.commitInfo.userMetadata``
        is honored too (per-write annotation wins)."""
        self._pending_user_metadata = message
        return self

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY (D10 — delta_utils.py:168-174)."""
        rows = [
            (
                c.version,
                # seconds → timestamp in session tz (UTC pinned)
                c.timestamp,
                c.operation,
                json.dumps(c.parameters, sort_keys=True, default=str),
                json.dumps(c.metrics, sort_keys=True, default=str),
                c.user_metadata,
            )
            for c in reversed(self.commits())
        ]
        schema = (
            "version long, timestamp double, operation string, "
            "operationParameters string, operationMetrics string, "
            "userMetadata string"
        )
        return self.spark.createDataFrame(rows, schema).withColumn(
            "timestamp", F.timestamp_seconds("timestamp")
        )

    def detail(self) -> dict[str, Any]:
        """DESCRIBE DETAIL (D10): physical stats."""
        files, _, partition_by, props, v = self._replay()
        return {
            "format": "logtable",
            "location": self.path,
            "numFiles": len(files),
            "sizeInBytes": sum(f.size_bytes for f in files),
            # physical row count: counts rows tombstoned by deletion
            # vectors (purge via OPTIMIZE to reconcile)
            "numRecords": sum(f.num_records for f in files),
            "numDeletionVectorFiles": sum(len(f.dv or []) for f in files),
            "partitionColumns": partition_by,
            "properties": props,
            "version": v,
            # protocol surface (Delta DESCRIBE DETAIL parity)
            "minReaderVersion": int(props.get(MIN_READER_PROP, "1")),
            "minWriterVersion": int(props.get(MIN_WRITER_PROP, "2")),
            "tableFeatures": sorted(_enabled_features(props)),
        }

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = True,
        generated_columns: dict[str, str] | None = None,
        identity_columns: dict[str, dict] | None = None,
        cluster_by: list[str] | None = None,
        column_defaults: dict[str, str] | None = None,
    ) -> "LogTable":
        """Create-if-absent empty table (K4 — delta_utils.py:27-77).

        ``generated_columns`` maps column → SQL expression over the
        OTHER (non-generated) columns — Delta's ``GENERATED ALWAYS AS``
        (a delta-spark feature the reference inherits): writes that
        omit the column get it computed; writes that supply it are
        validated against the expression and rejected on mismatch.
        Persisted as ``generated.<col>`` properties, so the contract
        travels with the table like CHECK constraints do."""
        t = LogTable(spark, path)
        if t.exists():
            if if_not_exists:
                return t
            raise FileExistsError(path)
        props = dict(properties or {})
        names = {f.name for f in schema.fields}
        if cluster_by:
            bad = [c for c in cluster_by if c not in names]
            if bad:
                raise ValueError(f"clustering column(s) not in schema: {bad}")
            overlap = set(cluster_by) & set(partition_by or [])
            if overlap:
                raise ValueError(
                    f"CLUSTER BY and PARTITIONED BY overlap: {sorted(overlap)}"
                )
            props[CLUSTERING_PROP] = ",".join(cluster_by)
        for c, e in (generated_columns or {}).items():
            if c not in names:
                raise ValueError(f"generated column {c!r} not in schema")
            props[f"generated.{c}"] = e
        for c, e in (column_defaults or {}).items():
            props[f"default.{c}"] = e
        # default.* may arrive via the properties dict too (SHOW CREATE
        # round-trip) — validate every spelling at create time
        by_name = {f.name: f for f in schema.fields}
        for k, e in list(props.items()):
            if not k.startswith("default."):
                continue
            c = k.removeprefix("default.")
            if c not in by_name:
                raise ValueError(f"DEFAULT column {c!r} not in schema")
            LogTable._validate_default(spark, c, e, by_name[c].dataType)
        for c, spec in (identity_columns or {}).items():
            if c not in names:
                raise ValueError(f"identity column {c!r} not in schema")
            props[f"identity.{c}"] = json.dumps(
                {"start": int(spec.get("start", 1)), "step": int(spec.get("step", 1)),
                 "high": None},
                sort_keys=True,
            )
        t.fs.makedirs(t.path)
        t._commit(
            Commit(
                version=0,
                timestamp=time.time(),
                operation="CREATE TABLE",
                schema_json=schema.json(),
                partition_by=partition_by or [],
                properties=props,
            ),
            {},
        )
        return t

    # ---- column mapping (rename/drop without rewrite) -----------------

    @staticmethod
    def _column_mapping(props: dict[str, str]) -> dict[str, str]:
        """{logical: physical} for renamed columns (identity omitted)."""
        raw = props.get(MAPPING_PROP)
        return json.loads(raw) if raw else {}

    @staticmethod
    def _reserved_physicals(props: dict[str, str]) -> set[str]:
        raw = props.get(RESERVED_PROP)
        return set(json.loads(raw)) if raw else set()

    def _check_prop_references(self, col: str, props: dict[str, str]) -> None:
        """A column referenced by a CHECK constraint or generated-column
        expression cannot be renamed/dropped out from under it."""
        pat = re.compile(rf"\b{re.escape(col)}\b")
        offenders = [
            k
            for k, v in props.items()
            if (k.startswith("constraint.") or k.startswith("generated."))
            and pat.search(v)
        ]
        if offenders:
            raise ValueError(
                f"column {col!r} is referenced by {offenders}; drop those first"
            )

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — metadata-only (Delta column
        mapping, name mode): the physical parquet column name is frozen
        at first write; only the logical schema and the mapping change.
        No data rewrite at any table size."""
        snap = self._replay()
        schema, partition_by, props = snap.schema, snap.partition_by, snap.properties
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column already exists: {new}")
        self._check_prop_references(old, props)
        mapping = self._column_mapping(props)
        physical = mapping.pop(old, old)
        if physical != new:
            mapping[new] = physical
        new_props = dict(props)
        new_props[MAPPING_PROP] = json.dumps(mapping, sort_keys=True)
        # a generated column may itself be renamed (its expr references
        # OTHER columns, already checked above)
        if f"generated.{old}" in new_props:
            new_props[f"generated.{new}"] = new_props.pop(f"generated.{old}")
        # identity specs are keyed by logical column name too — without
        # the re-key the next append allocates into a phantom column
        # named ``old`` (silently dropped) while the renamed column
        # null-fills: a GENERATED ALWAYS column would go NULL
        if f"identity.{old}" in new_props:
            new_props[f"identity.{new}"] = new_props.pop(f"identity.{old}")
        if CLUSTERING_PROP in new_props:
            new_props[CLUSTERING_PROP] = ",".join(
                new if c == old else c
                for c in new_props[CLUSTERING_PROP].split(",")
            )
        if f"notnull.{old}" in new_props:
            new_props[f"notnull.{new}"] = new_props.pop(f"notnull.{old}")
        if f"default.{old}" in new_props:
            new_props[f"default.{new}"] = new_props.pop(f"default.{old}")
        fields = [
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable, f.metadata)
            for f in schema.fields
        ]
        self._commit_op(
            snap,
            "RENAME COLUMN",
            schema_json=T.StructType(fields).json(),
            partition_by=[new if c == old else c for c in partition_by],
            properties=new_props,
            parameters={"from": old, "to": new},
        )

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only: the physical column
        stays in the data files (reserved against reuse); the logical
        schema simply stops projecting it."""
        snap = self._replay()
        schema, partition_by, props = snap.schema, snap.partition_by, snap.properties
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name}")
        if name in partition_by:
            raise ValueError(f"cannot drop partition column {name!r}")
        if name in props.get(CLUSTERING_PROP, "").split(","):
            raise ValueError(
                f"cannot drop clustering column {name!r} — ALTER the "
                f"{CLUSTERING_PROP} property first"
            )
        self._check_prop_references(name, props)
        mapping = self._column_mapping(props)
        physical = mapping.pop(name, name)
        reserved = self._reserved_physicals(props) | {physical}
        new_props = dict(props)
        new_props[MAPPING_PROP] = json.dumps(mapping, sort_keys=True)
        new_props[RESERVED_PROP] = json.dumps(sorted(reserved))
        new_props.pop(f"generated.{name}", None)
        # stop allocating the dropped identity column (else every later
        # append would compute a phantom column and commit orphan
        # watermark updates)
        new_props.pop(f"identity.{name}", None)
        new_props.pop(f"notnull.{name}", None)
        new_props.pop(f"default.{name}", None)
        self._commit_op(
            snap,
            "DROP COLUMN",
            schema_json=T.StructType(
                [f for f in schema.fields if f.name != name]
            ).json(),
            properties=new_props,
            parameters={"column": name},
        )

    @staticmethod
    def _parse_interval_hours(raw: str, default: float) -> float:
        """Parse an ``interval N hours|days|weeks`` property value;
        the conservative default wins when absent or malformed (never
        fail maintenance on a bad prop)."""
        m = re.match(
            r"^\s*interval\s+(\d+(?:\.\d+)?)\s+(hour|day|week|minute)s?\s*$",
            raw,
            re.I,
        )
        if not m:
            return default
        per_hour = {"minute": 1 / 60, "hour": 1.0, "day": 24.0, "week": 168.0}
        return float(m.group(1)) * per_hour[m.group(2).lower()]

    def _retention_hours(self) -> float:
        """``delta.deletedFileRetentionDuration`` → hours (7-day default)."""
        return self._parse_interval_hours(
            self.properties().get("delta.deletedFileRetentionDuration", ""),
            168.0,
        )

    # digits needed for each integral type's full range — an integral
    # column may widen to decimal(p, s) only when p - s covers it
    # (empirically, Spark's parquet reader rejects anything narrower)
    _INTEGRAL_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}

    @classmethod
    def _is_type_widening(cls, old: T.DataType, new: T.DataType) -> bool:
        """Delta 4.x type-widening matrix, restricted to what Spark's
        parquet vectorized reader upcasts natively (verified in
        tests/test_logtable.py): integral up-chain, integral→double,
        float→double, integral→decimal with enough integer digits,
        decimal precision/scale growth that never shrinks the integer
        part. Everything else (e.g. decimal→double, anything→string)
        would need a data rewrite and is refused."""
        o, n = old.typeName(), new.typeName()
        chain = ["byte", "short", "integer", "long"]
        if o in chain:
            if n in chain:
                return chain.index(n) > chain.index(o)
            if n == "double":
                return True
            if isinstance(new, T.DecimalType):
                return (
                    new.precision - new.scale >= cls._INTEGRAL_DIGITS[o]
                )
        if o == "float" and n == "double":
            return True
        if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
            return (
                new.scale >= old.scale
                and new.precision - new.scale >= old.precision - old.scale
                and (new.precision, new.scale)
                != (old.precision, old.scale)
            )
        return False

    def alter_column_type(self, name: str, new_type: T.DataType) -> None:
        """ALTER TABLE ALTER COLUMN ... TYPE — type widening as a
        metadata-only commit (Delta's type-widening feature): existing
        files keep their narrow physical type and every read path scans
        them under the widened logical schema (Spark's parquet reader
        upcasts int32→int64/double/decimal etc. natively — no rewrite
        at any table size); rewrites after the change (UPDATE, MERGE,
        OPTIMIZE) naturally land the wide type. Identity and generated
        columns keep their declared contract types and are refused."""
        snap = self._replay()
        schema, props = snap.schema, snap.properties
        by_name = {f.name: f for f in schema.fields}
        if name not in by_name:
            raise ValueError(f"no such column: {name}")
        if f"identity.{name}" in props or f"generated.{name}" in props:
            raise ValueError(
                f"cannot change the type of identity/generated column {name!r}"
            )
        old_type = by_name[name].dataType
        if not self._is_type_widening(old_type, new_type):
            raise ValueError(
                f"not a supported type widening: {old_type.simpleString()} "
                f"-> {new_type.simpleString()}"
            )
        fields = [
            T.StructField(
                f.name,
                new_type if f.name == name else f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
        self._commit_op(
            snap,
            "ALTER COLUMN",
            schema_json=T.StructType(fields).json(),
            # widening leaves narrow-typed files behind forever —
            # a reader must upcast at scan time, so the protocol
            # gains the reader-required typeWidening feature in
            # this same commit (undetectable from properties alone,
            # hence stamped at the site, not in _stamp_protocol)
            properties={
                **props,
                FEATURE_PROP_PREFIX + "typeWidening": "supported",
                MIN_READER_PROP: "3",
                MIN_WRITER_PROP: "7",
            },
            parameters={
                "column": name,
                "from": old_type.simpleString(),
                "to": new_type.simpleString(),
            },
        )

    def set_not_null(self, name: str) -> None:
        """ALTER COLUMN ... SET NOT NULL: existing rows must already
        satisfy the contract (a constraint is never born violated),
        then every subsequent write enforces it. The schema field flips
        to non-nullable so DESCRIBE/SHOW CREATE reflect the contract."""
        snap = self._replay()
        schema = snap.schema
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name}")
        rows = self._read_entries(snap.files, schema, snap.properties)
        n_bad = rows.filter(F.col(name).isNull()).count()
        if n_bad:
            raise ValueError(
                f"cannot SET NOT NULL on {name!r}: {n_bad} existing NULL rows"
            )
        fields = [
            T.StructField(
                f.name, f.dataType, False if f.name == name else f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
        self._commit_op(
            snap,
            "ALTER COLUMN",
            schema_json=T.StructType(fields).json(),
            properties={**snap.properties, f"notnull.{name}": "true"},
            parameters={"column": name, "notNull": "set"},
        )

    def drop_not_null(self, name: str) -> None:
        """ALTER COLUMN ... DROP NOT NULL: stop enforcing; the schema
        field goes back to nullable."""
        snap = self._replay()
        schema = snap.schema
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name}")
        props = dict(snap.properties)
        props.pop(f"notnull.{name}", None)
        fields = [
            T.StructField(
                f.name, f.dataType, True if f.name == name else f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
        self._commit_op(
            snap,
            "ALTER COLUMN",
            schema_json=T.StructType(fields).json(),
            properties=props,
            parameters={"column": name, "notNull": "dropped"},
        )

    def set_column_default(self, name: str, expr: str) -> None:
        """ALTER COLUMN ... SET DEFAULT <expr> (Delta column defaults,
        ``delta.feature.allowColumnDefaults``): a metadata-only commit;
        from now on ingest writes (append / overwrite / INSERT / COPY
        INTO) that omit the column fill it with the expression instead
        of NULL. Existing rows are untouched (no rewrite at any table
        size) — exactly Delta's semantics, where ALTER ... SET DEFAULT
        affects only future writes."""
        snap = self._replay()
        field = next((f for f in snap.schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no such column: {name}")
        if f"identity.{name}" in snap.properties or f"generated.{name}" in snap.properties:
            raise ValueError(
                f"column {name!r} is identity/generated — it already has "
                "a value contract; DEFAULT would conflict"
            )
        self._validate_default(self.spark, name, expr, field.dataType)
        self._commit_op(
            snap,
            "ALTER COLUMN",
            properties={**snap.properties, f"default.{name}": expr},
            parameters={"column": name, "default": expr},
        )

    def drop_column_default(self, name: str) -> None:
        """ALTER COLUMN ... DROP DEFAULT: omitted values go back to
        NULL on future writes."""
        snap = self._replay()
        if name not in [f.name for f in snap.schema.fields]:
            raise ValueError(f"no such column: {name}")
        props = dict(snap.properties)
        props.pop(f"default.{name}", None)
        self._commit_op(
            snap,
            "ALTER COLUMN",
            properties=props,
            parameters={"column": name, "default": "dropped"},
        )

    def alter_column_comment(self, name: str, comment: str | None) -> None:
        """ALTER COLUMN ... COMMENT — metadata-only commit updating the
        field's comment (``None`` clears it)."""
        snap = self._replay()
        schema = snap.schema
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"no such column: {name}")
        fields = []
        for f in schema.fields:
            meta = dict(f.metadata or {})
            if f.name == name:
                if comment is None:
                    meta.pop("comment", None)
                else:
                    meta["comment"] = comment
            fields.append(
                T.StructField(f.name, f.dataType, f.nullable, meta or None)
            )
        self._commit_op(
            snap,
            "ALTER COLUMN",
            schema_json=T.StructType(fields).json(),
            parameters={"column": name, "comment": comment or ""},
        )

    def _physical_conjuncts(
        self, condition: str, props: dict[str, str]
    ) -> list[tuple[str, str, Any]]:
        """The conjuncts of ``condition`` with column names translated
        logical → physical so they line up with file stats / partition
        paths (both physical)."""
        mapping = self._column_mapping(props)
        return [(mapping.get(c, c), op, v) for c, op, v in _parse_conjuncts(condition)]

    def _guard_new_columns(self, new_names: list[str], props: dict[str, str]) -> None:
        """A new logical column must not collide with the frozen
        physical name of a renamed or dropped column — the parquet
        files already carry data under that name."""
        taken = set(self._column_mapping(props).values()) | self._reserved_physicals(
            props
        )
        bad = [n for n in new_names if n in taken]
        if bad:
            raise ValueError(
                f"column names {bad} collide with physical columns of "
                "renamed/dropped columns; choose different names"
            )

    # ---- identity columns (GENERATED ALWAYS AS IDENTITY) ---------------

    @staticmethod
    def _identity_columns(props: dict[str, str]) -> dict[str, dict]:
        """``identity.<col>`` properties → {col: {start, step, high}}."""
        out = {}
        for k, v in props.items():
            if k.startswith("identity."):
                out[k.removeprefix("identity.")] = json.loads(v)
        return out

    def _apply_identity(
        self, df: DataFrame, props: dict[str, str]
    ) -> tuple[DataFrame, dict[str, str]]:
        """Assign identity values to a write batch (GENERATED ALWAYS —
        explicit values rejected; contiguous from the high watermark).

        Scale-safe allocation in two jobs and zero shuffles: job 1
        collects per-partition row counts (metadata-sized), the driver
        turns them into per-partition starting offsets, and the write
        job computes each row's value as ``offset[pid] + idx * step``
        where ``idx`` is the in-partition row index recovered from
        ``monotonically_increasing_id()``'s documented encoding
        (``pid·2³³ + idx``) — no window, no Python round-trip. The new
        high watermark is known exactly on the driver (base +
        (n−1)·step), committed with the write; concurrent identity
        writes therefore conflict as metadata changes instead of
        silently allocating overlapping ranges. Assumes the input
        frame's partition contents are deterministic between the two
        jobs (true for any deterministic plan)."""
        idents = self._identity_columns(props)
        if not idents:
            return df, {}
        for c in idents:
            if c in df.columns:
                raise ValueError(
                    f"identity column {c!r} is GENERATED ALWAYS — "
                    "explicit values are not accepted"
                )
        return self._allocate_identity(df, idents)

    def _allocate_identity(
        self, df: DataFrame, idents: dict[str, dict]
    ) -> tuple[DataFrame, dict[str, str]]:
        """Allocation core shared by append-family writes
        (``_apply_identity``) and merge-time insert stamping: overwrite
        (or add) each identity column with contiguous values from the
        high watermark using the two-job / zero-shuffle scheme
        described in ``_apply_identity``. Returns the stamped frame and
        the advanced ``identity.*`` watermark properties to fold into
        the SAME commit — a concurrent identity write then conflicts as
        a metadata change (the OCC discipline row-tracking watermarks
        use) instead of silently double-allocating."""
        props: dict[str, str] = {}
        pid_df = df.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__mono", F.monotonically_increasing_id()
        )
        counts = sorted(
            (r["__pid"], r["n"])  # dict access: r.__pid would name-mangle
            for r in pid_df.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        total = sum(n for _, n in counts)
        out = pid_df
        for c, spec in idents.items():
            step = int(spec.get("step", 1))
            high = spec.get("high")
            base = int(spec.get("start", 1)) if high is None else int(high) + step
            if total:
                offs, acc = [], base
                for pid, n in counts:
                    offs.append((pid, acc))
                    acc += n * step
                off_df = self.spark.createDataFrame(offs, "__pid int, __off long")
                out = out.join(F.broadcast(off_df), "__pid", "left").withColumn(
                    c,
                    (
                        F.col("__off")
                        + (F.col("__mono") % F.lit(2**33)) * F.lit(step)
                    ).cast("long"),
                )
                props[f"identity.{c}"] = json.dumps(
                    {**spec, "high": base + (total - 1) * step}, sort_keys=True
                )
                out = out.drop("__off")
            else:
                out = out.withColumn(c, F.lit(None).cast("long"))
        return out.drop("__pid", "__mono"), props

    @staticmethod
    def _generated_columns(props: dict[str, str]) -> dict[str, str]:
        """``generated.<col>`` properties → {col: sql expr}."""
        return {
            k.removeprefix("generated."): v
            for k, v in props.items()
            if k.startswith("generated.")
        }

    @staticmethod
    def _column_defaults(props: dict[str, str]) -> dict[str, str]:
        """``default.<col>`` properties → {col: sql literal expr}."""
        return {
            k.removeprefix("default."): v
            for k, v in props.items()
            if k.startswith("default.")
        }

    @staticmethod
    def _validate_default(
        spark: SparkSession, col: str, expr: str, dtype: T.DataType
    ) -> None:
        """A DEFAULT must be a self-contained (literal/foldable)
        expression castable to the column type — column references have
        nothing to bind against on the probe frame and fail here, at
        declaration time, instead of at some future insert."""
        try:
            spark.range(1).withColumnRenamed("id", "__default_probe__").select(
                F.expr(expr).cast(dtype)
            ).collect()
        except Exception as e:  # noqa: BLE001 — surface as a ValueError
            raise ValueError(
                f"invalid DEFAULT for column {col!r}: {expr!r} ({e})"
            ) from None

    def _apply_generated(self, df: DataFrame, props: dict[str, str]) -> DataFrame:
        """Compute generated columns the incoming frame omits; columns
        it supplies are left alone (validated by :meth:`_all_checks`)."""
        for c, e in self._generated_columns(props).items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(e))
        return df

    @staticmethod
    def _all_checks(props: dict[str, str]) -> dict[str, str]:
        """Every write-time predicate: explicit CHECK constraints plus
        the implicit ``col <=> (expr)`` contract of generated columns."""
        checks = {
            k.removeprefix("constraint."): v
            for k, v in props.items()
            if k.startswith("constraint.")
        }
        checks.update(
            {
                f"gen_{k.removeprefix('generated.')}":
                    f"{k.removeprefix('generated.')} <=> ({v})"
                for k, v in props.items()
                if k.startswith("generated.")
            }
        )
        # NOT NULL contracts declared via SET NOT NULL (tracked as
        # properties, not inferred from schema nullable flags — an
        # accidentally non-nullable source schema must never start
        # rejecting writes retroactively)
        checks.update(
            {
                f"notnull_{k.removeprefix('notnull.')}":
                    f"{k.removeprefix('notnull.')} IS NOT NULL"
                for k, v in props.items()
                if k.startswith("notnull.") and v == "true"
            }
        )
        return checks

    @staticmethod
    def convert(
        spark: SparkSession,
        path: str,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "LogTable":
        """CONVERT TO DELTA parity (delta OSS ``CONVERT TO DELTA
        parquet.`path``` — the zero-copy alternative to the reference's
        copy-based parquet→Delta migration, migrate_from_hdfs.py): adopt
        an existing Parquet directory IN PLACE as version 0 of a log
        table. Pure metadata — the files are listed, their footers read
        for row counts + min/max stats (data skipping works immediately),
        hive-style partition directories are detected, and the schema
        comes from one Spark scan's inferred/merged schema. At 100 TB
        the conversion is one driver-side listing + footer pass; no row
        is copied or rewritten. After conversion the directory is a
        normal table: DML, time travel (from v0), OPTIMIZE, and
        constraints all apply."""
        t = LogTable(spark, path)
        if t.exists():
            raise FileExistsError(f"already a log table: {path}")
        entries: list[FileEntry] = []
        part_cols: list[str] = list(partition_by or [])
        for dirpath, name in t.fs.walk_files(path):
            if not name.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(dirpath, path)
            if rel_dir != "." and rel_dir.split(os.sep)[0] in (
                LOG_DIR, CHANGES_DIR, STAGING_DIR, DV_DIR,
            ):
                continue
            full = os.path.join(dirpath, name)
            n, size, stats = _parquet_file_stats(full)
            if n == 0:
                continue
            rel = os.path.relpath(full, path)
            if partition_by is None:
                for c in _partition_values(rel):
                    if c not in part_cols:
                        part_cols.append(c)
            entries.append(FileEntry(rel, n, size, stats=stats))
        if not entries:
            raise FileNotFoundError(f"no parquet files under {path}")
        reader = spark.read.option("basePath", path)
        schema = reader.parquet(
            *[os.path.join(path, e.path) for e in entries]
        ).schema
        t._commit(
            Commit(
                version=0,
                timestamp=time.time(),
                operation="CONVERT",
                add=entries,
                schema_json=schema.json(),
                partition_by=part_cols,
                properties=properties or {},
                metrics={
                    "numConvertedFiles": len(entries),
                    "numRecords": sum(e.num_records for e in entries),
                },
            ),
            {},
        )
        return t

    @staticmethod
    def _observe(
        df: DataFrame, metrics: list[Column], checks: dict[str, str]
    ) -> tuple[DataFrame, Observation | None]:
        """Attach ``metrics`` and the violation counters of ``checks``
        (CHECK constraints — Q6, README.md:303-306 — and generated-
        column contracts, see :meth:`_all_checks`) to ``df``, so the
        write job itself computes them: the data is read once."""
        aggs = metrics + _check_aggs(checks)
        if not aggs:
            return df, None
        obs = Observation()
        return df.observe(obs, *aggs), obs

    def _observed(
        self,
        obs: Observation | None,
        checks: dict[str, str],
        entries: list[FileEntry],
    ) -> dict[str, Any]:
        """The metrics of a finished observed write; a CHECK violation
        discards the written files and raises."""
        m = obs.get if obs is not None else {}
        bad = {n: m[f"__check_{n}"] for n in checks if m[f"__check_{n}"] > 0}
        if bad:
            self._discard(entries)
            raise ConstraintViolationError(f"CHECK constraint violations: {bad}")
        return m

    def _discard(self, entries: list[FileEntry]) -> None:
        """Roll back a write that will not commit: delete its data files
        and bloom sidecars (no commit references them yet)."""
        for e in entries:
            self.fs.delete(os.path.join(self.path, e.path))
            if e.bloom:
                self.fs.delete(os.path.join(self.path, e.bloom))

    def _write_files(
        self, df: DataFrame, partition_by: list[str], props: dict[str, str]
    ) -> list[FileEntry]:
        """Materialize ``df`` as parquet under the table root, returning
        entries. Data is written by executors to a staging dir; the
        driver then *renames* files into place (metadata-only).

        ``props`` (the snapshot's) give the column mapping, the bloom
        columns and the stats width. Column mapping: data lands under
        PHYSICAL names (frozen at first write), so files stay
        homogeneous across renames."""
        mapping = self._column_mapping(props)
        bloom_phys = [
            mapping.get(c, c) for c in json.loads(props.get(BLOOM_PROP, "[]"))
        ]
        if mapping:
            df = df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
            )
            partition_by = [mapping.get(c, c) for c in partition_by]
        stage = os.path.join(self.path, STAGING_DIR, uuid.uuid4().hex)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(stage)
        entries: list[FileEntry] = []
        prefix = uuid.uuid4().hex[:8]
        # staged files are immutable and unreferenced until the commit
        # lands, so per-file promotion does NOT need atomicity — on an
        # object store fs.rename degrades to copy+delete and the format
        # stays correct (crash → orphans, collected by VACUUM).
        for dirpath, name in self.fs.walk_files(stage):
            if not name.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(dirpath, stage)
            rel_dir = "" if rel_dir == "." else rel_dir
            new_name = f"part-{prefix}-{len(entries):05d}.parquet"
            rel_path = os.path.join(rel_dir, new_name) if rel_dir else new_name
            dst = os.path.join(self.path, rel_path)
            self.fs.makedirs(os.path.dirname(dst))
            src = os.path.join(dirpath, name)
            n, size, stats = _parquet_file_stats(
                src, max_cols=int(props.get(STATS_COLS_PROP, STATS_MAX_COLS))
            )
            if n == 0:
                continue
            self.fs.rename(src, dst)
            bloom_rel = self._write_bloom_sidecar(dst, rel_path, bloom_phys, n)
            entries.append(
                FileEntry(rel_path, n, size, stats=stats, bloom=bloom_rel)
            )
        # remove ONLY this call's stage dir — the staging root is shared
        # and another writer's in-flight staged files may live beside it
        # (deleting the root was a concurrency lost-update bug)
        self.fs.delete_tree(stage)
        return entries

    def _write_changes(
        self, version: int, change_df: DataFrame, props: dict[str, str]
    ) -> None:
        """Write ``version``'s change-feed rows; callers call it only when
        ``props`` (the snapshot the write replayed) has CDF on."""
        mapping = self._column_mapping(props)
        if mapping:
            # CDF files use physical names too, so pre-rename change
            # files and post-rename ones read back uniformly
            change_df = change_df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in change_df.columns]
            )
        d = os.path.join(self.path, CHANGES_DIR, f"v={version:020d}")
        change_df.write.mode("overwrite").parquet(d)

    def _align(
        self,
        df: DataFrame,
        schema: T.StructType,
        defaults: dict[str, str] | None = None,
        keep: tuple[str, ...] = (),
    ) -> DataFrame:
        """Project ``df`` onto ``schema`` (order + missing-as-null).

        ``defaults`` maps column → SQL literal expression: a missing
        column fills with its DEFAULT instead of NULL (Delta column
        defaults — applied on the ingest paths only; rewrite paths like
        MERGE/UPDATE project survivors that already carry every
        column, so passing no defaults there is both correct and
        cheaper)."""
        cols = []
        have = {f.name for f in df.schema.fields}
        for f in schema.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            elif defaults and f.name in defaults:
                cols.append(
                    F.expr(defaults[f.name]).cast(f.dataType).alias(f.name)
                )
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        # hidden physical columns a rewrite carries forward (row
        # tracking) ride along untouched
        for c in keep:
            if c in df.columns:
                cols.append(F.col(c))
        return df.select(*cols)

    def _evolve_schema(
        self, df: DataFrame, merge_schema: bool, snap: Snapshot
    ) -> T.StructType:
        current = snap.schema
        if not merge_schema:
            return current
        names = {f.name for f in current.fields}
        extra = [f for f in df.schema.fields if f.name not in names]
        if extra:
            self._guard_new_columns([f.name for f in extra], snap.properties)
        return T.StructType(list(current.fields) + extra)

    def _ingest(
        self, df: DataFrame, snap: Snapshot, merge_schema: bool = False
    ) -> tuple[list[FileEntry], dict[str, str], T.StructType]:
        """The write half of append and COPY INTO: identity values,
        generated columns, defaults, CHECKs counted by the write job
        itself, optimizeWrite. Returns the written entries, the identity
        watermark properties their commit must carry, and the schema
        written."""
        props, partition_by = snap.properties, snap.partition_by
        df, ident_props = self._apply_identity(df, props)
        df = self._apply_generated(df, props)
        schema = self._evolve_schema(df, merge_schema, snap)
        data = self._align(df, schema, defaults=self._column_defaults(props))
        checks = self._all_checks(props)
        data, obs = self._observe(data, [], checks)
        data = self._maybe_optimize_write(data, partition_by, props)
        entries = self._write_files(data, partition_by, props)
        self._observed(obs, checks, entries)
        return entries, ident_props, schema

    def _ingested(
        self,
        version: int,
        entries: list[FileEntry],
        schema: T.StructType,
        props: dict[str, str],
    ) -> None:
        """After an ingest commit: its change feed, then autoCompact."""
        if props.get(CDF_PROP) == "true":
            rows = self._read_entries(entries, schema, props)
            self._write_changes(version, self._cdf_frame(rows, CT_INSERT, version), props)
        self._maybe_autocompact(entries, props)

    def append(self, df: DataFrame, merge_schema: bool = False) -> None:
        """Delta append (K1), optional mergeSchema evolution
        (delta_utils.py:107-147)."""
        snap = self._replay()
        entries, ident_props, schema = self._ingest(df, snap, merge_schema)
        version = self._commit_op(
            snap,
            "WRITE",
            add=entries,
            schema_json=schema.json() if merge_schema else None,
            properties=ident_props or None,
            parameters={"mode": "Append", "mergeSchema": merge_schema},
            metrics={
                "numOutputRows": sum(e.num_records for e in entries),
                "numAddedFiles": len(entries),
            },
        )
        self._ingested(version, entries, schema, snap.properties)

    def _maybe_optimize_write(
        self, data: DataFrame, partition_by: list[str], props: dict[str, str]
    ) -> DataFrame:
        """optimizeWrite: shuffle the batch to the partition layout
        before writing, so a wide write lands one-ish file per
        partition instead of tasks×partitions small files. Applied only
        on ingest paths — OPTIMIZE/ZORDER already control their own
        layout (a blind repartition here would shuffle away zorder's
        within-partition sort)."""
        if props.get(OPTWRITE_PROP, "false") != "true":
            return data
        cluster = [c for c in _cluster_columns(props) if c in data.columns]
        if partition_by:
            out = data.repartition(*partition_by)
            # cluster-on-write: inside each hive partition the batch
            # lands sorted by the clustering key, so newborn files have
            # tight min/max ranges before any OPTIMIZE runs
            if cluster:
                out = out.sortWithinPartitions(*partition_by, *cluster)
            return out
        if cluster:
            # range layout on the key (partition count = session shuffle
            # setting — AQE coalesces) + in-file sort
            return data.repartitionByRange(*cluster).sortWithinPartitions(
                *cluster
            )
        return data

    def _maybe_autocompact(
        self, new_entries: list[FileEntry], props: dict[str, str]
    ) -> None:
        """autoCompact: if a write leaves any of its target partition
        directories holding ≥ minNumFiles small files, bin-pack exactly
        those directories inline (a scoped OPTIMIZE commit). Bounded
        work: only the directories this write touched are examined.

        Note (Delta-parity): the inline compaction bin-packs WITHOUT
        re-sorting, so on a Z-ORDERed table it gradually dilutes
        clustering in hot partitions — schedule a periodic scoped
        ``zorder(..., where=)`` (see ``MaintenanceConfig.incremental``)
        to restore it, exactly as Delta users re-OPTIMIZE ZORDER.
        ``props`` are the write's; the compaction reads its own
        snapshot, which includes the write."""
        if props.get(AUTOCOMPACT_PROP, "false") != "true":
            return
        min_files = int(props.get(AUTOCOMPACT_MIN_FILES_PROP, "8"))
        touched_dirs = {os.path.dirname(e.path) for e in new_entries}
        files, _, partition_by, props, _ = self._replay()
        by_dir: dict[str, int] = {}
        for f in files:
            d = os.path.dirname(f.path)
            if d in touched_dirs and f.size_bytes < 128 * 1024 * 1024:
                by_dir[d] = by_dir.get(d, 0) + 1
        hot = [d for d, n in by_dir.items() if n >= min_files]
        if not hot:
            return
        if not partition_by:
            self.optimize()
            return
        phys = [self._column_mapping(props).get(c, c) for c in partition_by]
        for d in hot:
            pv = _partition_values(os.path.join(d, "x"))
            conj = [
                f"{c} = '{pv[c]}'"
                for c in phys
                if pv.get(c) is not None and "'" not in pv[c]
            ]
            if len(conj) == len(phys):
                self.optimize(where=" AND ".join(conj))
            else:  # hive-NULL or quoted partition value: full pass
                self.optimize()
                return

    _COPY_EXTS = {
        "parquet": (".parquet",),
        "orc": (".orc",),
        "csv": (".csv", ".csv.gz", ".tsv"),
        "json": (".json", ".json.gz", ".jsonl", ".ndjson"),
    }

    def copy_into(
        self,
        source_path: str,
        file_format: str = "parquet",
        options: dict[str, str] | None = None,
        force: bool = False,
    ) -> dict:
        """``COPY INTO`` (Delta SQL): idempotent bulk file loading.

        Each run lists the source directory and loads ONLY files not
        recorded by a previous COPY INTO commit — identity is
        (relative path, size, mtime), Delta's rule — so re-running
        after a partial failure, or on a directory that keeps
        receiving files, never duplicates rows. ``force=True`` reloads
        everything regardless.

        At scale: the loaded-set recovery is a metadata scan of the
        commit log (file identities, never contents), the listing is
        one driver pass, and the data move is a single executor job
        over just the new files."""
        if file_format not in self._COPY_EXTS:
            raise ValueError(f"unsupported COPY INTO format {file_format!r}")
        # read first: a COPY INTO landing after this read is either in
        # the loaded set below or checked at commit (ConcurrentTransactionError)
        snap = self._replay()
        loaded: set[tuple] = set()
        if not force:
            for c in self.commits():
                if c.operation == "COPY INTO":
                    loaded.update(tuple(x) for x in c.parameters.get("sourceFiles", []))
        exts = self._COPY_EXTS[file_format]
        new: list[tuple] = []
        for dirpath, name in self.fs.walk_files(source_path):
            if not name.lower().endswith(exts) or name.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, name)
            ident = (
                os.path.relpath(full, source_path),
                self.fs.size(full),
                int(self.fs.mtime(full)),
            )
            if ident not in loaded:
                new.append(ident)
        if not new:
            return {"numLoadedFiles": 0, "numCopiedRows": 0}
        reader = self.spark.read.schema(snap.schema).options(**(options or {}))
        if file_format == "csv":
            reader = reader.option("header", options.get("header", "true") if options else "true")
        # basePath keeps hive-partition columns resolvable when loading
        # a subset of a partitioned directory
        reader = reader.option("basePath", source_path).format(file_format)
        df = reader.load([os.path.join(source_path, rel) for rel, _, _ in new])
        entries, ident_props, schema = self._ingest(df, snap)
        n_rows = sum(e.num_records for e in entries)
        version = self._commit_op(
            snap,
            "COPY INTO",
            add=entries,
            properties=ident_props or None,
            parameters={
                "source": source_path,
                "fileFormat": file_format,
                "sourceFiles": [list(x) for x in sorted(new)],
            },
            metrics={"numLoadedFiles": len(new), "numCopiedRows": n_rows},
        )
        self._ingested(version, entries, schema, snap.properties)
        return {"numLoadedFiles": len(new), "numCopiedRows": n_rows}

    def overwrite(
        self,
        df: DataFrame,
        replace_where: str | None = None,
        overwrite_schema: bool = False,
        dynamic: bool = False,
        extra_properties: dict[str, str] | None = None,
        replace_range: str | None = None,
    ) -> None:
        """Delta overwrite (K2) / partition-scoped idempotent overwrite
        via ``replace_where`` (K3 — 03_gold_aggregation.py:82-86) /
        ``dynamic=True`` = Spark's ``partitionOverwriteMode=dynamic``:
        replace exactly the partitions present in ``df``, keep the
        rest. Unlike ``replace_where`` there is no predicate to declare
        — the incoming data itself names the partitions, read off the
        written files' partition directories (no extra job).

        ``replace_range=k`` replaces the batch's own key range: the
        write observes ``min(k)``/``max(k)`` and the commit records
        ``replaceWhere = "k >= '<min>' AND k <= '<max>'"``. A batch
        that is empty or whose keys are all NULL commits nothing.

        Every variant is one pass over ``df``: CHECK constraints, the
        ``replace_where`` rows that violate the predicate (a NULL
        predicate is not a violation) and the range are all counted by
        the write job itself. A violation deletes the just-written
        files and raises before anything is committed. The rows of the
        replaced files are tagged DELETE where ``replace_where`` is TRUE
        and KEEP otherwise (FALSE or NULL), and the DML rewrite
        (:meth:`_rewrite`) carries the KEEP rows into new files (a
        second job, only when such files exist). With the change feed
        on, the removed rows (``replace_where``: those where it is TRUE)
        are its delete rows and the written rows its insert rows."""
        if dynamic and (replace_where is not None or replace_range is not None):
            raise ValueError("dynamic excludes replace_where and replace_range")
        if replace_where is not None and replace_range is not None:
            raise ValueError("replace_where and replace_range are mutually exclusive")
        snap = self._replay()
        files, partition_by, props = snap.files, snap.partition_by, snap.properties
        if dynamic and not partition_by:
            raise ValueError("dynamic overwrite requires a partitioned table")
        df, ident_props = self._apply_identity(df, props)
        df = self._apply_generated(df, props)
        schema = df.schema if overwrite_schema else snap.schema
        data = self._align(df, schema, defaults=self._column_defaults(props))
        checks = self._all_checks(props)
        metrics = []
        if replace_where is not None:
            metrics.append(_count_if(~F.expr(replace_where)).alias("__bad"))
        if replace_range is not None:
            k = F.col(replace_range)
            metrics += [F.min(k).alias("__lo"), F.max(k).alias("__hi")]
        data, obs = self._observe(data, metrics, checks)
        data = self._maybe_optimize_write(data, partition_by, props)
        entries = self._write_files(data, partition_by, props)
        m = self._observed(obs, checks, entries)
        if m.get("__bad"):
            # new data must satisfy the predicate (delta semantics)
            self._discard(entries)
            raise ValueError(
                f"replaceWhere: {m['__bad']} input rows violate '{replace_where}'"
            )
        if replace_range is not None:
            if m["__lo"] is None:  # no keyed row: nothing to replace
                self._discard(entries)
                return
            replace_where = (
                f"{replace_range} >= '{m['__lo']}' AND {replace_range} <= '{m['__hi']}'"
            )
        pred = None if replace_where is None else F.expr(replace_where)

        def commit(survivors: list[FileEntry], _n_changed: int = 0) -> int:
            added = entries + survivors
            version = self._commit_op(
                snap,
                "WRITE",
                add=added,
                remove=[f.path for f in removed],
                schema_json=schema.json() if overwrite_schema else None,
                # extra_properties ride the SAME commit as the data
                # change (atomic watermark pattern — see with_commit_props)
                properties={**ident_props, **(extra_properties or {})} or None,
                parameters={
                    "mode": "Overwrite",
                    **({"replaceWhere": replace_where} if replace_where else {}),
                },
                metrics={
                    "numOutputRows": sum(e.num_records for e in added),
                    "numAddedFiles": len(added),
                    "numRemovedFiles": len(removed),
                },
            )
            if props.get(CDF_PROP) == "true":
                gone = self._read_entries(removed, snap.schema, props)
                if pred is not None:
                    gone = gone.filter(pred)
                ct = "_change_type"
                changes = self._align(gone, schema).withColumn(ct, F.lit(CT_DELETE))
                changes = changes.unionByName(
                    self._read_entries(entries, schema, props).withColumn(
                        ct, F.lit(CT_INSERT)
                    )
                )
                self._write_changes(
                    version, self._cdf_frame(changes, F.col(ct), version), props
                )
            return version

        removed: list[FileEntry]
        if dynamic:
            phys_parts = [
                self._column_mapping(props).get(c, c) for c in partition_by
            ]  # paths carry physical names
            # the same decoder reads old and new paths, so NULL, boolean
            # and escaped partition values compare equal by construction
            def part_key(path: str) -> tuple:
                pv = _partition_values(path)
                return tuple(pv.get(c) for c in phys_parts)

            new_parts = {part_key(e.path) for e in entries}
            removed = [f for f in files if part_key(f.path) in new_parts]
        elif pred is None:
            removed = list(files)
        else:
            removed, _ = self._split_files_by_predicate(snap, pred, replace_where)
            if removed:
                # the replaced files' rows the predicate does not select
                # (FALSE or NULL) are KEEP rows of one rewrite, projected
                # onto the written schema (overwrite_schema may change it)
                rows = self._tag_rows(removed, snap.schema, props, pred, DELETE)
                keep = (ROW_ID_COL, ROW_COMMIT_COL, ACTION_COL)
                self._rewrite(
                    self._align(rows, schema, keep=keep).alias("target"),
                    schema,
                    partition_by,
                    props,
                    commit,
                    cdf=False,
                )
                return
        commit([])

    def _read_entries(
        self,
        entries: list[FileEntry],
        schema: T.StructType,
        props: dict[str, str],
        with_file_path: bool = False,
        with_dv_key: bool = False,
        with_row_tracking: bool = False,
    ) -> DataFrame:
        """Scan a file set with the declared schema. Files written before
        a schema evolution surface NULL for later columns; partition
        columns come back from the hive-style paths via basePath.
        Shallow-clone entries carry a foreign ``base`` and are scanned
        in their own group so partition resolution stays correct.

        Entries carrying deletion vectors have their tombstoned rows
        anti-joined away, so EVERY read path (snapshot, time travel,
        DML rewrite, CDF preimages) sees merge-on-read deletes applied.
        ``with_dv_key`` keeps the per-row ``(__dv_key, __dv_ridx)``
        tombstone key in the output — the DV writer's hook.

        Column mapping: files are scanned under their PHYSICAL names
        and aliased back to the logical schema, so renamed columns
        resolve without any file rewrite. ``props`` carries the
        properties AS OF the snapshot being read — a time-travel read
        across a rename must use that version's mapping, not today's
        (the logical name `schema` carries is the one that version's
        mapping knows)."""
        mapping = self._column_mapping(props)
        phys = {f.name: mapping.get(f.name, f.name) for f in schema.fields}
        read_schema = T.StructType(
            [
                T.StructField(phys[f.name], f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        cols = [F.col(phys[f.name]).alias(f.name) for f in schema.fields]
        if with_row_tracking:
            # hidden physical columns; files written before row tracking
            # was enabled lack them and surface NULLs (explicit schema)
            read_schema = T.StructType(
                list(read_schema.fields)
                + [
                    T.StructField(ROW_ID_COL, T.LongType()),
                    T.StructField(ROW_COMMIT_COL, T.LongType()),
                ]
            )
            cols = cols + [F.col(ROW_ID_COL), F.col(ROW_COMMIT_COL)]
        if with_file_path:
            # _metadata is a scan-time pseudo-column; materialize it here
            # because it doesn't survive projections/joins downstream.
            cols = cols + [F.col("_metadata.file_path").alias("__file_path")]
        if not entries:
            df = self.spark.createDataFrame([], schema)
            if with_row_tracking:
                df = df.withColumn(
                    ROW_ID_COL, F.lit(None).cast("long")
                ).withColumn(ROW_COMMIT_COL, F.lit(None).cast("long"))
            if with_file_path:
                df = df.withColumn("__file_path", F.lit(None).cast("string"))
            if with_dv_key:
                df = df.withColumn(
                    "__dv_key", F.lit(None).cast("string")
                ).withColumn("__dv_ridx", F.lit(None).cast("long"))
            return df
        need_key = any(e.dv for e in entries) or with_dv_key
        by_base: dict[str, list[FileEntry]] = {}
        for e in entries:
            by_base.setdefault(e.base or self.path, []).append(e)
        parts = []
        for base, group in sorted(by_base.items()):
            gcols = list(cols)
            if need_key:
                gcols += [
                    F.expr(self._dv_key_sql(base)).alias("__dv_key"),
                    F.col("_metadata.row_index").alias("__dv_ridx"),
                ]
            if with_row_tracking:
                # per-row file key → the file's base row id + default
                # commit version (joined below; the map is
                # metadata-sized), plus the physical row index that
                # anchors un-materialized ids
                gcols += [
                    F.expr(self._dv_key_sql(base)).alias("__rt_key"),
                    F.col("_metadata.row_index").alias("__rt_ridx"),
                ]
            part = (
                self.spark.read.schema(read_schema)
                .option("basePath", base)
                .parquet(*[e.abspath(self.path) for e in group])
                .select(*gcols)
            )
            g_dvs = sorted({d for e in group if e.dv for d in e.dv})
            if g_dvs:
                # apply the tombstones: (file, row_index) anti-join, per
                # base group so keys stay base-relative on both sides.
                # The DV side is tombstones only (small vs data); Spark
                # broadcasts it under the threshold, else a shuffled
                # anti-join — either way O(rows + tombstones), never a
                # rewrite.
                tomb = self.spark.read.parquet(
                    *[
                        d if os.path.isabs(d) else os.path.join(self.path, d)
                        for d in g_dvs
                    ]
                ).select(
                    F.col("path").alias("__dv_key"),
                    F.col("row_index").alias("__dv_ridx"),
                )
                part = part.join(tomb, ["__dv_key", "__dv_ridx"], "left_anti")
            parts.append(part)
        out = reduce(DataFrame.unionByName, parts)
        if with_row_tracking:
            # materialize each row's tracking pair: explicit __row_id /
            # __row_commit (carried through a rewrite) else the add
            # entry's defaults — brid + physical row index, and rcv.
            # Broadcast join against the file list: driver metadata,
            # same order as the scan's own file listing. DV tombstones
            # are anti-joined BEFORE this point, and survivors keep
            # their original row_index — so merge-on-read deletes never
            # shift ids.
            rt_rows = [
                (
                    os.path.relpath(e.abspath(self.path), e.base or self.path),
                    e.rcv,
                    e.brid,
                )
                for e in entries
            ]
            rt_df = self.spark.createDataFrame(
                rt_rows, "__rt_key string, __rcv long, __brid long"
            )
            out = (
                out.join(F.broadcast(rt_df), "__rt_key", "left")
                .withColumn(
                    ROW_ID_COL,
                    F.coalesce(
                        F.col(ROW_ID_COL), F.col("__brid") + F.col("__rt_ridx")
                    ),
                )
                .withColumn(
                    ROW_COMMIT_COL,
                    F.coalesce(F.col(ROW_COMMIT_COL), F.col("__rcv")),
                )
                .drop("__rt_key", "__rt_ridx", "__rcv", "__brid")
            )
        if need_key and not with_dv_key:
            out = out.drop("__dv_key", "__dv_ridx")
        return out

    def _dv_key_sql(self, base: str) -> str:
        """SQL expr for a scan row's deletion-vector tombstone key: the
        on-disk path of the row's parquet file, relative to the base
        that owns it (the table root for its own files; the source root
        for shallow-cloned files) — relative keys keep the table
        relocatable, exactly like the commit log's relative add paths.
        ``_metadata.file_path`` is a URI, so strip the scheme and undo
        one round of percent-encoding (protecting literal '+', which
        ``url_decode`` would otherwise read as a form-encoded space)."""
        decoded = (
            "url_decode(replace(regexp_replace(_metadata.file_path, "
            "'^[a-zA-Z][a-zA-Z0-9+.-]*:/+', '/'), '+', '%2B'))"
        )
        return f"substring({decoded}, {len(os.path.abspath(base)) + 2})"

    # ---- file pruning helpers -----------------------------------------

    def _split_files_by_predicate(
        self, snap: Snapshot, pred: Column, text: str
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """The snapshot's files that contain ≥1 row matching ``pred``
        (whose SQL is ``text``) vs the rest.

        Two-phase, like Delta: (1) metadata-only skipping — evaluate the
        predicate's conjuncts against per-file [min,max] stats and
        partition-path values, excluding files that provably can't match
        (no job at all); (2) one metadata-sized aggregate job over the
        survivors — group matching rows by ``_metadata.file_path`` —
        for the exact touched set. Never collects data."""
        files = snap.files
        if not files:
            return [], []
        candidates = self._skip_files(files, self._physical_conjuncts(text, snap.properties))
        kept_paths = {f.path for f in candidates}
        excluded = [f for f in files if f.path not in kept_paths]
        if not candidates:
            return [], list(files)
        df = self._read_entries(
            candidates, snap.schema, snap.properties, with_file_path=True
        )
        hit = self._norm_paths(
            {
                r.fp
                for r in df.filter(pred)
                .select(F.col("__file_path").alias("fp"))
                .distinct()
                .collect()
            }
        )
        touched = [f for f in candidates if f.path in hit]
        untouched = [f for f in candidates if f.path not in hit] + excluded
        return touched, untouched

    def _norm_paths(self, raw: set[str]) -> set[str]:
        """Normalize scan-reported file URIs to both absolute and
        table-relative forms (shallow clones store absolute entries)."""
        import re

        out = set()
        for p in raw:
            # file:/x, file://x, file:///x all mean local /x
            p = re.sub(r"^file:/+", "/", p)
            if os.path.isabs(p):
                out.add(p)
                out.add(os.path.relpath(p, self.path))
            else:
                out.add(p)
                out.add(os.path.abspath(os.path.join(self.path, p)))
        return out

    # ------------------------------------------------------------------
    # DML: UPDATE / DELETE / MERGE
    # ------------------------------------------------------------------

    def _cdf_frame(
        self, df: DataFrame, change_type: str | Column, version: int
    ) -> DataFrame:
        ct = F.lit(change_type) if isinstance(change_type, str) else change_type
        ts = F.timestamp_seconds(F.lit(time.time()))
        return df.withColumn("_change_type", ct).withColumn(
            "_commit_version", F.lit(version).cast("long")
        ).withColumn("_commit_timestamp", ts)

    def _tag_rows(
        self,
        touched: list[FileEntry],
        schema: T.StructType,
        props: dict[str, str],
        pred: Column,
        action: str,
    ) -> DataFrame:
        """The rows of ``touched`` (row tracking included when on),
        aliased ``target`` and tagged ``action`` where ``pred`` is TRUE,
        KEEP where it is FALSE or NULL — the input of :meth:`_rewrite`."""
        return (
            self._read_entries(
                touched, schema, props, with_row_tracking=props.get(RT_PROP) == "true"
            )
            .alias("target")
            .withColumn(ACTION_COL, F.when(pred, action).otherwise(KEEP))
        )

    def _rewrite(
        self,
        rows: DataFrame | None,
        schema: T.StructType,
        partition_by: list[str],
        props: dict[str, str],
        commit: Callable[[list[FileEntry], int], int],
        *,
        cdf: bool,
        sets: dict[str, Column] | None = None,
        inserts: DataFrame | None = None,
        checks: dict[str, str] | None = None,
        verify: Callable[[dict[str, Any], list[FileEntry]], None] | None = None,
    ) -> dict[str, Any]:
        """The one copy-on-write rewrite behind UPDATE, DELETE, the
        replaceWhere survivors and MERGE (the Delta paper's DML: find
        the touched files, rewrite their rows, commit adds and removes).

        ``rows`` are the rows of the touched files, aliased ``target``
        (MERGE: joined to its source), tagged in :data:`ACTION_COL` with
        KEEP, UPDATE or DELETE by ``F.when(pred, ...)``, so a row whose
        predicate is NULL is kept. ``sets`` maps each column the op
        assigns to its value on UPDATE rows; the generated columns it
        does not assign are recomputed from the new values. ``inserts``
        (MERGE) are new rows already projected onto ``schema``.

        One write job counts the rows per action and the CHECK
        violations of the rows it keeps, drops the DELETE rows and
        writes the rest; ``verify`` may still reject the written files
        before ``commit(entries, n_changed)`` lands them. With ``cdf``,
        the change feed is a projection of the same tagged rows: UPDATE
        rows give their post-image and the pre-image struct carried
        beside them, DELETE and INSERT rows give themselves. Returns the
        observed metrics, keyed by action."""
        sets = sets or {}
        rt = props.get(RT_PROP) == "true"
        action = F.col(ACTION_COL)
        updated = action == UPDATE
        parts = []
        if rows is not None:
            # projected onto ``schema`` here, so the sink only drops the
            # tag columns (each Column call is a JVM round trip)
            cols = [
                (
                    F.when(updated, sets[f.name]).otherwise(F.col(f"target.{f.name}"))
                    if f.name in sets
                    else F.col(f"target.{f.name}")
                )
                .cast(f.dataType)
                .alias(f.name)
                for f in schema.fields
            ] + [action]
            if rt:
                # the stable id rides the rewrite; updated rows reset
                # their commit version (NULL → the new file's default,
                # this commit), carried rows keep theirs
                cols += [
                    F.col(f"target.{ROW_ID_COL}").alias(ROW_ID_COL),
                    F.when(updated, F.lit(None).cast("long"))
                    .otherwise(F.col(f"target.{ROW_COMMIT_COL}"))
                    .alias(ROW_COMMIT_COL),
                ]
            if cdf:
                pre = F.struct(
                    *[F.col(f"target.{f.name}").alias(f.name) for f in schema.fields]
                )
                cols.append(F.when(updated, pre).alias(PRE_IMAGE_COL))
            parts.append(rows.select(*cols))
        if inserts is not None:
            ins = inserts.withColumn(ACTION_COL, F.lit(INSERT))
            if rt:
                # NULL tracking columns: the new file's defaults give the
                # row a fresh id and this commit's version
                ins = ins.withColumns(
                    {c: F.lit(None).cast("long") for c in (ROW_ID_COL, ROW_COMMIT_COL)}
                )
            if cdf:
                ins = ins.withColumn(PRE_IMAGE_COL, F.lit(None).cast(schema))
            parts.append(ins)
        tagged = reduce(DataFrame.unionByName, parts)
        types = {f.name: f.dataType for f in schema.fields}
        regen = {
            c: F.when(updated, F.expr(e).cast(types[c])).otherwise(F.col(c))
            for c, e in self._generated_columns(props).items()
            if sets and c in types and c not in sets
        }
        if regen:
            tagged = tagged.withColumns(regen)
        checks = checks or {}
        obs = Observation()
        written = tagged.observe(
            obs,
            *[
                F.expr(f"count_if({ACTION_COL} = '{a}') AS `{a}`")
                for a in (KEEP, UPDATE, DELETE, INSERT)
            ],
            *_check_aggs(checks, rows=action != DELETE),
        ).filter(action != DELETE)
        entries = self._write_files(
            written.drop(ACTION_COL, PRE_IMAGE_COL), partition_by, props
        )
        if verify is not None:
            verify(obs.get, entries)
        m = self._observed(obs, checks, entries)
        n_changed = m[UPDATE] + m[DELETE] + m[INSERT]
        version = commit(entries, n_changed)
        if cdf and n_changed:
            names = [f.name for f in schema.fields]
            images = tagged.filter(action != KEEP).select(
                *names,
                F.when(updated, F.lit(CT_UPDATE_POST))
                .otherwise(action)
                .alias("_change_type"),
            )
            pre_images = tagged.filter(updated).select(
                *[F.col(f"{PRE_IMAGE_COL}.{c}").alias(c) for c in names],
                F.lit(CT_UPDATE_PRE).alias("_change_type"),
            )
            self._write_changes(
                version,
                self._cdf_frame(
                    images.unionByName(pre_images), F.col("_change_type"), version
                ),
                props,
            )
        return m

    def update(self, condition: str, set_exprs: dict[str, str]) -> dict:
        """UPDATE with predicate (D3 — 04_acid_operations.py:128-139).
        ``set_exprs`` maps column → SQL expression.

        The rows of the touched files are tagged UPDATE where
        ``condition`` is TRUE and KEEP otherwise, and one rewrite
        (:meth:`_rewrite`) writes them: generated columns not explicitly
        assigned are recomputed from the new base values (Delta's UPDATE
        semantics — base-column edits can't leave a generated column
        stale). The change feed's post-images are the rows written, and
        its pre-images the same rows' values before the assignment."""
        snap = self._replay()
        props = snap.properties
        bad_ids = [c for c in self._identity_columns(props) if c in set_exprs]
        if bad_ids:
            raise ValueError(
                f"identity columns {bad_ids} are GENERATED ALWAYS — UPDATE "
                "cannot assign them"
            )
        pred = F.expr(condition)
        touched, _ = self._split_files_by_predicate(snap, pred, condition)
        params = {"predicate": condition}
        if not touched:
            self._commit_dml(snap, "UPDATE", [], [], params, 0)
            return {"numUpdatedRows": 0}
        schema = snap.schema
        m = self._rewrite(
            self._tag_rows(touched, schema, props, pred, UPDATE),
            schema,
            snap.partition_by,
            props,
            lambda entries, n: self._commit_dml(
                snap, "UPDATE", entries, [f.path for f in touched], params, n
            ),
            cdf=props.get(CDF_PROP) == "true",
            sets={c: F.expr(e) for c, e in set_exprs.items()},
            checks=self._all_checks(props),
        )
        return {"numUpdatedRows": m[UPDATE]}

    def delete(self, condition: str) -> dict:
        """DELETE with predicate (D4 — 04_acid_operations.py:170-175).

        With deletion vectors on, the matched rows are tombstoned
        (:meth:`_delete_with_dvs`). Otherwise the rows of the touched
        files are tagged DELETE where ``condition`` is TRUE and KEEP
        otherwise (FALSE or NULL), one rewrite (:meth:`_rewrite`) writes
        the KEEP rows, and the change feed's delete rows are the DELETE
        rows of that same frame."""
        snap = self._replay()
        props = snap.properties
        pred = F.expr(condition)
        touched, _ = self._split_files_by_predicate(snap, pred, condition)
        params = {"predicate": condition}
        if not touched:
            self._commit_dml(snap, "DELETE", [], [], params, 0)
            return {"numDeletedRows": 0}
        if props.get(DV_PROP) == "true":
            return self._delete_with_dvs(condition, pred, touched, snap)
        schema = snap.schema
        m = self._rewrite(
            self._tag_rows(touched, schema, props, pred, DELETE),
            schema,
            snap.partition_by,
            props,
            lambda entries, n: self._commit_dml(
                snap, "DELETE", entries, [f.path for f in touched], params, n
            ),
            cdf=props.get(CDF_PROP) == "true",
        )
        return {"numDeletedRows": m[DELETE]}

    def _delete_with_dvs(
        self,
        condition: str,
        pred: Column,
        touched: list[FileEntry],
        snap: Snapshot,
    ) -> dict:
        """Merge-on-read DELETE: write (file, row_index) tombstones for
        the matched rows instead of rewriting the touched files. The
        scan applies any existing tombstones first, so re-deleting an
        already-deleted row neither double-counts nor duplicates
        tombstones. One executor job writes the DV; the per-file hit
        map collected on the driver is bounded by the touched-file
        count (metadata-sized)."""
        props = snap.properties
        scan = self._read_entries(touched, snap.schema, props, with_dv_key=True)
        hits = scan.filter(pred)
        dv_rel = os.path.join(DV_DIR, f"dv-{uuid.uuid4().hex}")
        dv_abs = os.path.join(self.path, dv_rel)
        hits.select(
            F.col("__dv_key").alias("path"),
            F.col("__dv_ridx").alias("row_index"),
        ).write.mode("overwrite").parquet(dv_abs)
        per_file = {
            r["path"]: r["n"]
            for r in self.spark.read.parquet(dv_abs)
            .groupBy("path")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_deleted = int(sum(per_file.values()))
        if n_deleted == 0:
            self.fs.delete_tree(dv_abs)
            self._commit_dml(snap, "DELETE", [], [], {"predicate": condition}, 0)
            return {"numDeletedRows": 0}
        # tombstone keys are base-relative; commit dvs are keyed by the
        # entry path the replay's active-file map uses
        key_to_path = {
            os.path.relpath(e.abspath(self.path), e.base or self.path): e.path
            for e in touched
        }
        version = self._commit_op(
            snap,
            "DELETE",
            parameters={"predicate": condition, "deletionVectors": True},
            metrics={
                "numDeletedRows": n_deleted,
                "numAddedFiles": 0,
                "numRemovedFiles": 0,
                "numDeletionVectorFiles": 1,
            },
            dvs={
                key_to_path[k]: [dv_rel]
                for k in per_file
                if k in key_to_path
            },
        )
        if props.get(CDF_PROP) == "true":
            self._write_changes(
                version,
                self._cdf_frame(
                    hits.drop("__dv_key", "__dv_ridx"), CT_DELETE, version
                ),
                props,
            )
        return {"numDeletedRows": n_deleted}

    def _commit_dml(
        self,
        snap: Snapshot,
        op: str,
        entries: list[FileEntry],
        removed: list[str],
        params: dict,
        n_affected: int,
        schema_json: str | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        return self._commit_op(
            snap,
            op,
            add=entries,
            remove=removed,
            schema_json=schema_json,
            properties=properties,
            parameters=params,
            metrics={
                "numAffectedRows": n_affected,
                "numAddedFiles": len(entries),
                "numRemovedFiles": len(removed),
            },
        )

    def merge(self, source: DataFrame, condition: str) -> "MergeBuilder":
        """MERGE builder (D1): ``target`` / ``source`` aliases are bound
        in ``condition`` and clause expressions, mirroring
        ``DeltaTable.alias("target").merge(source.alias("source"), ...)``."""
        return MergeBuilder(self, source, condition)

    def upsert(self, source: DataFrame, key_columns: list[str]) -> dict:
        """batch_upsert parity (data_processor.py:233-280)."""
        cond = " AND ".join(f"target.{k} = source.{k}" for k in key_columns)
        return (
            self.merge(source, cond)
            .when_matched_update_all()
            .when_not_matched_insert_all()
            .execute()
        )

    # ------------------------------------------------------------------
    # maintenance: RESTORE / OPTIMIZE / ZORDER / VACUUM / CLONE
    # ------------------------------------------------------------------

    def restore(self, version: int | None = None, timestamp: float | None = None) -> dict:
        """RESTORE TABLE TO VERSION/TIMESTAMP AS OF (D5)."""
        old_files, old_schema, old_part, old_props, v = self._replay(version, timestamp)
        snap = self._replay()
        cur_files, cur_props = snap.files, snap.properties
        # Schema-coupled properties must travel WITH the restored schema:
        # the column mapping (a renamed column would otherwise read
        # NULL), and the generated./identity./constraint. families (a
        # rename between target and now would leave e.g. generated.<new>
        # pointing at a column the restored schema doesn't have, so
        # later writes validate a contract against a ghost column).
        # Everything else keeps its CURRENT value; reserved physicals
        # are the union of both epochs (superset-conservative — a
        # restore must never un-reserve a physical name that files from
        # either epoch still carry).
        # notnull./default. are schema-coupled too: the restored schema
        # carries the target epoch's nullable flags and column set, so
        # keeping the CURRENT contracts would either stop enforcing a
        # restored NOT NULL or enforce one against restored data that
        # legally contains NULLs.
        coupled = ("generated.", "identity.", "constraint.", "notnull.", "default.")
        props_patch = {
            k: val
            for k, val in cur_props.items()
            if k != MAPPING_PROP and not k.startswith(coupled)
        }
        props_patch.update(
            (k, val)
            for k, val in old_props.items()
            if k == MAPPING_PROP or k.startswith(coupled)
        )
        if MAPPING_PROP in cur_props and MAPPING_PROP not in old_props:
            props_patch[MAPPING_PROP] = "{}"
        reserved = self._reserved_physicals(cur_props) | self._reserved_physicals(
            old_props
        )
        if reserved:
            props_patch[RESERVED_PROP] = json.dumps(sorted(reserved))
        cur_by_path = {f.path: f for f in cur_files}
        cur_paths = set(cur_by_path)
        old_paths = {f.path for f in old_files}
        self._commit_op(
            snap,
            "RESTORE",
            # re-add files missing from the current snapshot AND
            # files whose deletion-vector state moved since the
            # target version (a replayed add REPLACES the active
            # entry, reverting its tombstone list)
            add=[
                f
                for f in old_files
                if f.path not in cur_paths
                or (cur_by_path[f.path].dv or []) != (f.dv or [])
            ],
            remove=sorted(cur_paths - old_paths),
            schema_json=old_schema,
            partition_by=old_part,
            properties=props_patch,
            parameters={"version": v},
        )
        return {"restoredVersion": v}

    def _partition_scope(self, snap: Snapshot, where: str | None) -> list[FileEntry]:
        """Restrict a maintenance op to the partitions matching
        ``where`` (Delta's ``OPTIMIZE t WHERE part = ...``). Only
        partition-column predicates are legal — anything else would
        force a data scan just to decide what to rewrite, which is the
        thing partition scoping exists to avoid at 100 TB."""
        if where is None:
            return snap.files
        conj = self._physical_conjuncts(where, snap.properties)
        mapping = self._column_mapping(snap.properties)
        phys_parts = {mapping.get(c, c) for c in snap.partition_by}
        if not conj or not {c for c, _, _ in conj} <= phys_parts:
            raise ValueError(
                "OPTIMIZE/ZORDER ... WHERE supports only partition-column "
                f"predicates (partitions: {sorted(phys_parts)}); got {where!r}"
            )
        return [f for f in snap.files if _stats_may_match(f, conj)]

    def cluster_columns(self) -> list[str]:
        """CLUSTER BY key from the ``clustering.columns`` property."""
        return _cluster_columns(self.properties())

    def optimize(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        where: str | None = None,
    ) -> dict:
        """OPTIMIZE compaction (D6): bin-pack small files per partition
        directory into ~target-size files. ``where`` scopes the rewrite
        to matching partitions — incremental maintenance touches only
        the partitions that ingested since the last run.

        On a CLUSTER BY table a bare OPTIMIZE re-clusters on the
        declared key instead (Delta's liquid-clustering contract: the
        user never names ZORDER columns again). Keep the rewrite
        bounded the same way liquid clustering does — run it with a
        ``where=`` scope (the maintenance scheduler's incremental mode
        already passes exactly the partitions touched since its last
        tick)."""
        snap = self._replay()
        props = snap.properties
        files = self._partition_scope(snap, where)
        clustered_on = _cluster_columns(props)
        if clustered_on and snap.files:
            # size the rewrite like compaction would: clustered OPTIMIZE
            # both re-clusters AND bin-packs toward the target file size
            total = sum(f.size_bytes for f in files)
            n_out = max(1, int(total // target_file_bytes) or 1)
            return self._zorder(snap, files, clustered_on, 64, n_out, "range")
        by_dir: dict[str, list[FileEntry]] = {}
        for f in files:
            d = os.path.dirname(f.path)
            # files carrying deletion vectors are compacted regardless of
            # size: the rewrite purges their tombstones (Delta's
            # REORG ... APPLY (PURGE))
            if f.size_bytes < target_file_bytes or f.dv:
                by_dir.setdefault(d, []).append(f)
        to_compact = [
            fs for fs in by_dir.values() if len(fs) > 1 or any(f.dv for f in fs)
        ]
        if not to_compact:
            return {"numFilesRemoved": 0, "numFilesAdded": 0}
        removed: list[str] = []
        added: list[FileEntry] = []
        rt_on = props.get(RT_PROP) == "true"
        for group in to_compact:
            # row tracking: the rewrite carries the materialized row id
            # and commit version forward — compaction never changes
            # either (Delta's row-tracking preservation contract)
            df = self._read_entries(
                group, snap.schema, props, with_row_tracking=rt_on
            )
            total = sum(f.size_bytes for f in group)
            n_out = max(1, total // target_file_bytes)
            added += self._write_files(
                df.coalesce(int(n_out)), snap.partition_by, props
            )
            removed += [f.path for f in group]
        self._commit_op(
            snap,
            "OPTIMIZE",
            add=added,
            remove=removed,
            metrics={"numFilesRemoved": len(removed), "numFilesAdded": len(added)},
        )
        return {"numFilesRemoved": len(removed), "numFilesAdded": len(added)}

    def zorder(
        self,
        cols: list[str],
        n_buckets: int = 64,
        n_files: int | None = None,
        string_strategy: str = "range",
        where: str | None = None,
    ) -> dict:
        """OPTIMIZE ZORDER BY (D7 — delta_utils.py:295-335): cluster data
        so per-file min/max ranges on ``cols`` are tight → data skipping.

        Real multi-dimensional clustering: each column is bucketized by
        its approx quantiles (equi-depth, metadata-sized driver list),
        bucket ids are bit-interleaved into a Z-value, and the table is
        range-repartitioned + sorted by that Z-value — the same
        linearize-and-sort strategy OSS Delta uses.

        Non-numeric columns use ORDER-PRESERVING equi-depth buckets from
        sampled sorted cut-points (RangePartitioner posture: the sample
        is bounded and driver-side metadata-sized). Hash bucketing —
        which co-locates equal values but scatters them in hash order,
        leaving every file's raw-string [min,max] spanning nearly the
        whole domain so min/max data skipping prunes NOTHING — is kept
        only as the explicit ``string_strategy="hash"`` opt-in for
        readers that prune via dictionary/bloom filters instead.
        """
        if string_strategy not in ("range", "hash"):
            raise ValueError(f"string_strategy must be range|hash, got {string_strategy}")
        snap = self._replay()
        # partition scoping: re-cluster only the partitions named by
        # ``where`` (files outside the scope keep their layout)
        files = self._partition_scope(snap, where)
        return self._zorder(snap, files, cols, n_buckets, n_files, string_strategy)

    def _zorder(
        self,
        snap: Snapshot,
        files: list[FileEntry],
        cols: list[str],
        n_buckets: int,
        n_files: int | None,
        string_strategy: str,
    ) -> dict:
        """Z-order ``files`` of ``snap`` (see :meth:`zorder`)."""
        if not files:
            return {"numFilesRemoved": 0, "numFilesAdded": 0}
        props = snap.properties
        df = self._read_entries(
            files, snap.schema, props, with_row_tracking=props.get(RT_PROP) == "true"
        )
        bits = max(1, (n_buckets - 1).bit_length())
        numeric = {
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString()
            in ("tinyint", "smallint", "int", "bigint", "float", "double", "date", "timestamp")
            or f.dataType.simpleString().startswith("decimal")
        }
        # one bounded sample job shared by every string column: expected
        # sample size ≈ n_buckets × 200 rows per column — metadata-sized
        # at any table size, same posture as the numeric approxQuantile.
        str_cols = [c for c in cols if c not in numeric]
        str_cuts: dict[str, list] = {}
        if str_cols and string_strategy == "range":
            total = max(1, sum(f.num_records for f in files))
            frac = min(1.0, (n_buckets * 200) / total)
            sampled = (
                df.select(*str_cols)
                .sample(withReplacement=False, fraction=frac, seed=42)
                .collect()
            )
            for c in str_cols:
                vals = sorted(r[c] for r in sampled if r[c] is not None)
                cuts = []
                for i in range(1, n_buckets):
                    if vals:
                        cuts.append(vals[min(i * len(vals) // n_buckets, len(vals) - 1)])
                str_cuts[c] = sorted(set(cuts))
        zcols = []
        for c in cols:
            if c in numeric:
                # equi-depth buckets from approx quantiles (range queries
                # and point queries both benefit)
                qs = df.stat.approxQuantile(
                    c, [i / n_buckets for i in range(1, n_buckets)], 0.01
                )
                bucket = F.lit(0)
                for q in qs:
                    bucket = bucket + F.when(F.col(c).cast("double") > q, 1).otherwise(0)
            elif string_strategy == "range":
                # order-preserving: chained-comparison fold over the
                # sampled cut-points — tight per-file AND per-row-group
                # raw-value min/max, so both the log's file skipping and
                # parquet row-group pruning fire on equality and range
                # predicates (the round-4 hash layout measured −0.7%).
                bucket = F.lit(0)
                for q in str_cuts.get(c, []):
                    bucket = bucket + F.when(F.col(c) > F.lit(q), 1).otherwise(0)
            else:
                # opt-in: equal values co-locate but in hash order —
                # only useful to readers pruning via dictionary/bloom
                bucket = F.pmod(F.xxhash64(F.col(c)), F.lit(n_buckets)).cast("int")
            zcols.append(bucket)
        # bit-interleave: z = Σ_j Σ_i bit_i(bucket_j) << (i*len(cols)+j)
        z = F.lit(0).cast("long")
        for j, b in enumerate(zcols):
            for i in range(bits):
                z = z + (
                    F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
                    * F.lit(1 << (i * len(cols) + j))
                )
        out = n_files or max(1, len(files))
        clustered = (
            df.withColumn("__z", z)
            .repartitionByRange(out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        added = self._write_files(clustered, snap.partition_by, props)
        removed = [f.path for f in files]
        self._commit_op(
            snap,
            "OPTIMIZE",
            add=added,
            remove=removed,
            parameters={"zOrderBy": cols},
            metrics={"numFilesRemoved": len(removed), "numFilesAdded": len(added)},
        )
        return {"numFilesRemoved": len(removed), "numFilesAdded": len(added)}

    def vacuum(
        self,
        retain_hours: float | None = None,
        dry_run: bool = False,
        lite: bool = False,
    ) -> list[str]:
        """VACUUM [DRY RUN] (D8 — delta_utils.py:337-370): delete data
        files not referenced by any commit within the retention window
        (all versions ≥ the retention horizon keep their files).

        When ``retain_hours`` is not given, the retention comes from the
        ``delta.deletedFileRetentionDuration`` table property
        (``interval N hours|days|weeks``), defaulting to Delta's 7
        days — so per-table retention policy travels with the table,
        not the caller.

        Also garbage-collects the two auxiliary file families that
        would otherwise grow without bound at scale:

        - CDF change files of commits older than the horizon (Delta
          ties ``_change_data`` cleanup to VACUUM retention);
        - staging orphans from crashed writes older than the horizon
          (the collector `_write_files` promises). As with Delta, a
          zero-retention VACUUM racing an in-flight writer can collect
          its staged (not yet committed) files — keep retention above
          the longest write when vacuuming live tables."""
        if retain_hours is None:
            retain_hours = self._retention_hours()
        horizon = time.time() - retain_hours * 3600
        keep: set[str] = set()
        cs = self.commits()
        # files referenced by the latest snapshot OR by any snapshot whose
        # commit is newer than the horizon (time travel within retention)
        protected_versions = [c.version for c in cs if c.timestamp >= horizon]
        protected_versions.append(cs[-1].version)
        keep_dv_dirs: set[str] = set()
        for v in set(protected_versions):
            for f in self._replay(v)[0]:
                keep.add(f.abspath(self.path))
                if f.bloom:
                    keep.add(os.path.join(f.base or self.path, f.bloom))
                for d in f.dv or []:
                    keep_dv_dirs.add(
                        os.path.abspath(os.path.join(self.path, d))
                    )
        if lite:
            # VACUUM LITE (Delta 3.3): candidates come from the commit
            # log — every data file the log ever added that no protected
            # snapshot references — instead of walking the table tree.
            # At 100 TB a recursive listing is the expensive part of
            # VACUUM; the log is metadata. Tradeoffs (same as Delta's):
            # crashed-write staging orphans and untracked debris are not
            # found (run a full VACUUM occasionally), and a
            # retention-pruned log only knows its surviving commits.
            candidates = []
            seen_rel: set[str] = set()
            for c in cs:
                for f in c.add:
                    if f.base:  # shallow-clone foreign file — not ours
                        continue
                    for rel in filter(None, [f.path, f.bloom]):
                        if rel in seen_rel:
                            continue
                        seen_rel.add(rel)
                        full = os.path.join(self.path, rel)
                        if full not in keep and self.fs.exists(full):
                            candidates.append(rel)
            if not dry_run:
                for rel in candidates:
                    self.fs.delete(os.path.join(self.path, rel))
            return sorted(candidates)
        skip = (LOG_DIR, CHANGES_DIR, STAGING_DIR)
        candidates = []
        for dirpath, name in self.fs.walk_files(self.path):
            rel_dir = os.path.relpath(dirpath, self.path)
            if rel_dir.split(os.sep)[0] in skip:
                continue
            if os.path.abspath(dirpath) in keep_dv_dirs:
                continue  # deletion vectors referenced within retention
            if name.endswith(".parquet") or name.endswith(".bloom.json"):
                full = os.path.join(dirpath, name)
                if full not in keep:
                    candidates.append(os.path.relpath(full, self.path))
        # CDF change files: keep a version's changes only while its
        # commit is inside retention (or is the current version)
        protected = set(protected_versions)
        changes_root = os.path.join(self.path, CHANGES_DIR)
        if self.fs.isdir(changes_root):
            for n in self.fs.listdir(changes_root):
                if not n.startswith("v="):
                    continue
                if int(n.removeprefix("v=")) in protected:
                    continue
                vdir = os.path.join(changes_root, n)
                candidates += [
                    os.path.relpath(os.path.join(d, f), self.path)
                    for d, f in self.fs.walk_files(vdir)
                ]
        # staging orphans: a staged file older than the horizon belongs
        # to a crashed write (live writes stage, promote, commit in one
        # call) — safe to collect
        staging_root = os.path.join(self.path, STAGING_DIR)
        if self.fs.isdir(staging_root):
            for d, f in self.fs.walk_files(staging_root):
                full = os.path.join(d, f)
                if self.fs.mtime(full) < horizon:
                    candidates.append(os.path.relpath(full, self.path))
        if not dry_run:
            for rel in candidates:
                self.fs.delete(os.path.join(self.path, rel))
        return sorted(candidates)

    def fsck_repair(
        self, dry_run: bool = False, distribute_threshold: int = 1024
    ) -> dict:
        """FSCK REPAIR TABLE (Delta's ``FSCK REPAIR TABLE``,
        delta_utils.py maintenance family): drop log entries whose
        DATA FILE no longer exists physically — the recovery path
        after an out-of-band deletion (a cloud lifecycle rule, a
        fat-fingered ``rm``) that otherwise fails every read with
        FileNotFound forever.

        Metadata-only at any table size: existence probes run against
        the ACTIVE snapshot's file list (O(files) stat calls, no data
        read, no tree walk) and DISTRIBUTE across executors above a
        small threshold — a million-file table needs a million stats,
        which must not serialize on the driver. The repair is ONE
        commit removing the dead entries. Deletion-vector and bloom
        sidecars are treated as part of their data file: a missing
        sidecar drops the entry too (conservative — resurrecting DV'd
        rows would un-delete data).

        Returns {"numFilesRemoved": n, "removed": [paths]}; with
        ``dry_run`` only reports."""
        snap = self._replay()
        files = snap.files
        probes: list[tuple[str, str]] = []  # (entry path, probe path)
        for f in files:
            probes.append((f.path, f.abspath(self.path)))
            if f.bloom:
                probes.append(
                    (f.path, os.path.join(f.base or self.path, f.bloom))
                )
            for d in f.dv or []:
                probes.append((f.path, os.path.join(self.path, d)))
        if len(probes) <= distribute_threshold:
            dead_set = {
                entry for entry, p in probes if not self.fs.exists(p)
            }
        else:
            # executor-side stat fan-out: each partition checks its
            # slice against the shared filesystem and returns only the
            # dead entries (result is missing-file-sized, not
            # table-sized)
            def _check(batches):
                import os as _os

                import pandas as _pd

                for pdf in batches:
                    miss = pdf[~pdf["probe"].map(_os.path.exists)]
                    if len(miss):
                        yield _pd.DataFrame({"entry": miss["entry"]})

            pdf = self.spark.createDataFrame(
                probes, "entry string, probe string"
            )
            dead_set = {
                r.entry
                for r in pdf.repartition(64)
                .mapInPandas(_check, "entry string")
                .collect()
            }
        dead = sorted(dead_set)
        if dead and not dry_run:
            self._commit_op(
                snap,
                "FSCK",
                remove=dead,
                metrics={"numFilesRemoved": len(dead)},
            )
        return {"numFilesRemoved": len(dead), "removed": sorted(dead)}

    def generate_manifest(self) -> list[str]:
        """GENERATE symlink_format_manifest (Delta's ``GENERATE``
        command): write ``_symlink_format_manifest/<partition dirs>/
        manifest`` text files listing the absolute paths of the
        table's ACTIVE data files — the handshake that lets external
        engines without a log reader (Presto/Trino/Athena-style)
        query the current snapshot as plain parquet.

        Metadata-only: folds the active file list (no data read), one
        manifest per partition directory so partition pruning keeps
        working on the external side. Re-running replaces the previous
        manifest tree atomically-enough for readers (old manifests of
        vanished partitions are removed). Returns the manifest file
        paths written."""
        files, _, _, _, _ = self._replay()
        man_root = os.path.join(self.path, "_symlink_format_manifest")
        if self.fs.isdir(man_root):
            self.fs.delete_tree(man_root)
        by_dir: dict[str, list[str]] = {}
        for f in files:
            rel_dir = os.path.dirname(f.path)
            by_dir.setdefault(rel_dir, []).append(f.abspath(self.path))
        out = []
        for rel_dir, paths in sorted(by_dir.items()):
            d = os.path.join(man_root, rel_dir) if rel_dir else man_root
            self.fs.makedirs(d)
            target = os.path.join(d, "manifest")
            self.fs.write_text(
                target, "".join(p + "\n" for p in sorted(paths))
            )
            out.append(target)
        return out

    def clone(
        self,
        target_path: str,
        shallow: bool = False,
        version: int | None = None,
    ) -> "LogTable":
        """CREATE TABLE ... [SHALLOW|DEEP] CLONE (K7 —
        delta_utils.py:79-105). Shallow references the source's files;
        deep copies them. ``version`` clones a historical snapshot
        (CLONE ... VERSION AS OF)."""
        snap = self._replay(version)
        files, schema_json, partition_by, props, v = snap
        t = LogTable(self.spark, target_path)
        if t.exists():
            raise FileExistsError(target_path)
        t.fs.makedirs(t.path)
        entries = []
        purge = [f for f in files if not shallow and f.dv]
        for f in files:
            if shallow:
                entries.append(
                    FileEntry(
                        f.abspath(self.path),
                        f.num_records,
                        f.size_bytes,
                        base=f.base or self.path,
                        # DV paths stay rooted at the SOURCE table
                        dv=[
                            d if os.path.isabs(d) else os.path.join(self.path, d)
                            for d in f.dv
                        ]
                        if f.dv
                        else None,
                        rcv=f.rcv,  # row-tracking ids/versions stay stable
                        brid=f.brid,
                    )
                )
            elif f.dv:
                continue  # rewritten (purged) below, not byte-copied
            else:
                rel = (
                    os.path.relpath(f.abspath(self.path), f.base or self.path)
                    if os.path.isabs(f.path)
                    else f.path
                )
                dst = os.path.join(t.path, rel)
                t.fs.makedirs(os.path.dirname(dst))
                t.fs.copy(f.abspath(self.path), dst)
                entries.append(
                    FileEntry(
                        rel, f.num_records, f.size_bytes, rcv=f.rcv, brid=f.brid
                    )
                )
        if purge:
            # deep clone purges deletion vectors: tombstone keys are
            # source-rooted paths that would dangle after a byte copy,
            # so DV-carrying files are rewritten through a DV-applied
            # scan instead. The clone has no commits yet (no mapping),
            # so the source's logical→physical translation is applied
            # here — rewritten files must match the byte-copied ones.
            mapping = self._column_mapping(props)
            purged = self._read_entries(purge, snap.schema, props)
            if mapping:
                purged = purged.select(
                    *[F.col(c).alias(mapping.get(c, c)) for c in purged.columns]
                )
            entries += t._write_files(
                purged, [mapping.get(c, c) for c in (partition_by or [])], {}
            )
        t._commit(
            Commit(
                version=0,
                timestamp=time.time(),
                operation="CLONE",
                add=entries,
                schema_json=schema_json,
                partition_by=partition_by,
                properties=props,
                parameters={"source": self.path, "sourceVersion": v, "shallow": shallow},
            ),
            {},
        )
        return t


class MergeBuilder:
    """``LogTable.merge(...)`` clause builder with Delta semantics:

    - ``when_matched_update(set=..., condition=...)`` / ``..._update_all()``
    - ``when_matched_delete(condition=...)``
    - ``when_not_matched_insert(values=..., condition=...)`` / ``..._insert_all()``

    Clauses evaluate in declaration order per matched row (first whose
    condition holds wins), exactly like Delta. Raises on multiple source
    rows matching one target row (ambiguous update — same as Delta).
    """

    def __init__(self, table: LogTable, source: DataFrame, condition: str):
        self.table = table
        self.source = source
        self.condition = condition
        self.matched: list[tuple[str, dict[str, str] | None, str | None]] = []
        self.not_matched: list[tuple[dict[str, str] | None, str | None]] = []
        self.not_matched_by_source: list[
            tuple[str, dict[str, str] | None, str | None]
        ] = []
        self.extra_params: dict = {}
        self.extra_props: dict[str, str] = {}
        self.auto_evolve = False

    def with_schema_evolution(self) -> "MergeBuilder":
        """Delta's ``schema.autoMerge``: source columns absent from the
        target are added (metadata-only ADD COLUMNS) before the merge;
        pre-evolution files surface NULL for them."""
        self.auto_evolve = True
        return self

    def with_commit_params(self, **params) -> "MergeBuilder":
        """Attach caller metadata (e.g. streaming batch identity) to the
        MERGE commit's parameters — the idempotence hook for
        transactional foreachBatch sinks."""
        self.extra_params.update(params)
        return self

    def with_commit_props(self, **props) -> "MergeBuilder":
        """Fold table-property updates into the MERGE commit itself —
        the atomic change-data + watermark pattern (a separate
        ``set_properties`` after the merge leaves a crash window where
        the data change is committed but the watermark is not, so the
        same source window gets re-applied on restart)."""
        self.extra_props.update({k: str(v) for k, v in props.items()})
        return self

    # ---- stats-based file pruning ------------------------------------

    @staticmethod
    def _equi_pairs(condition: str) -> list[tuple[str, str]]:
        """(target_col, source_col) equality pairs that are NECESSARY
        conditions of the merge predicate — i.e. the predicate is a pure
        AND-conjunction (any OR/NOT makes individual equalities
        non-necessary, so no pruning)."""
        if re.search(r"\bOR\b|\bNOT\b|!", condition, re.IGNORECASE):
            return []
        pairs = [
            (m.group(1), m.group(2))
            for m in re.finditer(r"target\.(\w+)\s*==?\s*source\.(\w+)", condition)
        ] + [
            (m.group(2), m.group(1))
            for m in re.finditer(r"source\.(\w+)\s*==?\s*target\.(\w+)", condition)
        ]
        return pairs

    def _prune_candidates(
        self, files: list[FileEntry], props: dict[str, str]
    ) -> list[FileEntry]:
        """Data skipping for MERGE (Delta's stats-based file pruning):
        a file whose [min,max] range for an equi-key column is disjoint
        from the source's global [min,max] for the paired column cannot
        contain a matched row — drop it from the rewrite set. One tiny
        aggregate job over the source computes the bounds; no target
        data is read. Conservative everywhere: files without stats, or
        non-comparable types, stay candidates."""
        mapping = self.table._column_mapping(props)
        pairs = [
            (mapping.get(tc, tc), sc)
            for tc, sc in self._equi_pairs(self.condition)
            if sc in self.source.columns
        ]
        usable = [
            (tc, sc)
            for tc, sc in pairs
            if any(f.stats and tc in f.stats for f in files)
        ]
        if not usable:
            return list(files)
        aggs = []
        for i, (_, sc) in enumerate(usable):
            aggs += [F.min(sc).alias(f"lo{i}"), F.max(sc).alias(f"hi{i}")]
        row = self.source.agg(*aggs).first()

        def _comparable(a, b) -> bool:
            num = (int, float)
            return (isinstance(a, num) and isinstance(b, num)) or (
                isinstance(a, str) and isinstance(b, str)
            )

        out = []
        for f in files:
            keep = True
            for i, (tc, _) in enumerate(usable):
                s_lo, s_hi = row[f"lo{i}"], row[f"hi{i}"]
                if s_lo is None:  # empty/all-null source key: no match possible
                    keep = False
                    break
                if not f.stats or tc not in f.stats:
                    continue
                f_lo, f_hi = f.stats[tc][0], f.stats[tc][1]
                if not (_comparable(f_lo, s_lo) and _comparable(f_hi, s_hi)):
                    continue
                if f_hi < s_lo or f_lo > s_hi:
                    keep = False
                    break
            if keep:
                out.append(f)
        return out

    def when_matched_update_all(self, condition: str | None = None) -> "MergeBuilder":
        self.matched.append(("update", None, condition))
        return self

    def when_matched_update(
        self, set: dict[str, str], condition: str | None = None
    ) -> "MergeBuilder":
        self.matched.append(("update", set, condition))
        return self

    def when_matched_delete(self, condition: str | None = None) -> "MergeBuilder":
        self.matched.append(("delete", None, condition))
        return self

    def when_not_matched_insert_all(self, condition: str | None = None) -> "MergeBuilder":
        self.not_matched.append((None, condition))
        return self

    def when_not_matched_insert(
        self, values: dict[str, str], condition: str | None = None
    ) -> "MergeBuilder":
        self.not_matched.append((values, condition))
        return self

    def when_not_matched_by_source_update(
        self, set: dict[str, str], condition: str | None = None
    ) -> "MergeBuilder":
        """Delta's WHEN NOT MATCHED BY SOURCE ... UPDATE: modify target
        rows that no source row matches (conditions/sets may reference
        ``target.*`` only). Disables file pruning — every target row
        participates, so every file is a rewrite candidate."""
        self.not_matched_by_source.append(("update", set, condition))
        return self

    def when_not_matched_by_source_delete(
        self, condition: str | None = None
    ) -> "MergeBuilder":
        """Delta's WHEN NOT MATCHED BY SOURCE ... DELETE (the sync-
        deletions half of a full CDC mirror)."""
        self.not_matched_by_source.append(("delete", None, condition))
        return self

    # ------------------------------------------------------------------

    def execute(self) -> dict:
        """Run the MERGE.

        After the probe picks the touched files, every row of those
        files is tagged with one action — KEEP, UPDATE or DELETE, by the
        first matched or by-source clause whose condition is TRUE — and
        the unmatched source rows that an insert clause selects are
        tagged INSERT. The table's one copy-on-write rewrite
        (:meth:`LogTable._rewrite`) writes that tagged frame, and the
        change feed is a projection of it: post-images and inserts are
        the rows written, deletes the rows dropped, pre-images the
        target values carried beside each UPDATE row.

        Measured non-trade (r12): materializing the source once
        (public Delta's merge source materialization — persist
        MEMORY_AND_DISK around the pruning-bounds / probe / rewrite /
        anti-join evaluations) was A/B'd at the ACID-bench shape
        (10 M-row table, 1 M-row source) over 4 alternating pairs and
        LOST on the best samples (min 3.30 s plain vs 5.05 s persisted):
        the cache-write pass costs as much as the 2 saved recomputes of
        a cheap source. Callers with an expensive or non-deterministic
        source should persist it themselves before calling merge."""
        t = self.table
        snap = t._replay()
        files, partition_by, tprops = snap.files, snap.partition_by, snap.properties
        schema = snap.schema
        idents = t._identity_columns(tprops)
        if self.not_matched and idents:
            # merge-time allocation (D1 × D19, the upsert-into-
            # dimension-with-surrogate-key composition): NOT-MATCHED
            # inserts get fresh contiguous identity values stamped from
            # the watermark; an insert clause may not assign the column
            # itself (GENERATED ALWAYS).
            bad = sorted(
                {
                    c
                    for c in idents
                    for values, _cond in self.not_matched
                    if (values is None and c in self.source.columns)
                    or (values is not None and c in values)
                }
            )
            if bad:
                raise ValueError(
                    f"identity columns {bad} are GENERATED ALWAYS — MERGE "
                    "INSERT cannot assign them (INSERT ALL with the column "
                    "in the source counts as assignment)"
                )
        if idents:
            assigned = [
                c
                for c in idents
                for kind, s, _ in (*self.matched, *self.not_matched_by_source)
                if (s is not None and c in s)
                or (kind == "update" and s is None and c in self.source.columns)
            ]
            if assigned:
                raise ValueError(
                    f"identity columns {sorted(set(assigned))} are GENERATED "
                    "ALWAYS — MERGE UPDATE cannot assign them (UPDATE SET * "
                    "with the column in the source counts as assignment)"
                )
        rt_on = tprops.get(RT_PROP) == "true"
        # schema evolution is folded into the MERGE commit itself (one
        # atomic commit), never a separate ADD COLUMNS commit upfront —
        # a failed/rolled-back merge must leave the schema untouched.
        evolved_json: str | None = None
        if self.auto_evolve:
            tgt_names = {f.name for f in schema.fields}
            new = [f for f in self.source.schema.fields if f.name not in tgt_names]
            if new:
                t._guard_new_columns([f.name for f in new], tprops)
                schema = T.StructType(list(schema.fields) + list(new))
                evolved_json = schema.json()
        tcols = [f.name for f in schema.fields]

        src = self.source.alias("source")
        cond = F.expr(self.condition)

        # Job 1 — file pruning AND ambiguity detection in ONE metadata
        # aggregate: per touched file, the max number of source rows
        # matching any single target row. Skipped entirely for
        # insert-only merges (no matched clause ⇒ no file rewrite) and
        # for small tables, where rewriting everything is cheaper than
        # the probe job; ambiguity is then detected post-hoc from the
        # observed row counts (matched target rows written must equal
        # the touched files' metadata row count) with rollback.
        touched: list[FileEntry] = []
        skip_probe = False
        candidates = (
            self._prune_candidates(files, tprops)
            if (files and self.matched and not self.not_matched_by_source)
            else list(files)
        )
        if self.not_matched_by_source:
            # every target row must be inspected (a pruned-away file is
            # exactly one whose rows the source does NOT match) — no
            # pruning, no probe; rewrite everything.
            touched = list(candidates)
            skip_probe = bool(self.matched)  # post-hoc multi-match check
        elif (
            candidates
            and self.matched
            and sum(f.size_bytes for f in candidates) <= MERGE_PRUNE_THRESHOLD_BYTES
        ):
            skip_probe = True
            touched = list(candidates)
        elif candidates and self.matched:
            skip_probe = False
            tgt_probe = (
                t._read_entries(candidates, schema, tprops, with_file_path=True)
                .withColumn("__rid", F.monotonically_increasing_id())
                .alias("target")
            )
            probe = (
                tgt_probe.join(src, cond, "inner")
                .groupBy(
                    F.col("target.__file_path").alias("fp"),
                    F.col("target.__rid").alias("rid"),
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .groupBy("fp")
                .agg(F.max("n").alias("max_n"))
                .collect()
            )
            if any(r.max_n > 1 for r in probe):
                raise ValueError(
                    "MERGE: multiple source rows matched the same target row"
                )
            hit = t._norm_paths({r.fp for r in probe})
            touched = [f for f in candidates if f.path in hit]

        types = {f.name: f.dataType for f in schema.fields}

        def first_true(conds: list[str | None]) -> Column:
            """Index of the first clause whose condition is TRUE (no
            condition is TRUE), NULL when none is: first clause wins."""
            idx = F.lit(None).cast("int")
            for i, c in reversed(list(enumerate(conds))):
                fire = F.lit(True) if c is None else F.expr(c)
                idx = F.when(fire, F.lit(i)).otherwise(idx)
            return idx

        # One action per target row and one value per assigned column,
        # built over both clause lists: ``__clause`` indexes the matched
        # clause that fires on a matched row, ``__nmbs`` the by-source
        # clause on an unmatched one; either is NULL when none fires.
        action = F.lit(KEEP)
        sets: dict[str, Column] = {}
        for idx, clauses in (
            ("__clause", self.matched),
            ("__nmbs", self.not_matched_by_source),
        ):
            for i, (kind, set_exprs, _) in enumerate(clauses):
                fires = F.col(idx) == i
                if kind == "delete":
                    action = F.when(fires, F.lit(DELETE)).otherwise(action)
                    continue
                action = F.when(fires, F.lit(UPDATE)).otherwise(action)
                if set_exprs is None:  # UPDATE ALL
                    assigned = {
                        c: F.col(f"source.{c}") for c in tcols if c in self.source.columns
                    }
                else:
                    assigned = {c: F.expr(e) for c, e in set_exprs.items()}
                for c, v in assigned.items():
                    sets[c] = F.when(fires, v).otherwise(
                        sets.get(c, F.col(f"target.{c}"))
                    )

        rows: DataFrame | None = None
        if touched:
            tgt = t._read_entries(touched, schema, tprops, with_row_tracking=rt_on)
            tgt = tgt.alias("target")
            nmbs = first_true([c for *_, c in self.not_matched_by_source])
            if self.matched:
                # Rewrite join: touched files ⟕ source. Left-outer — NOT
                # full-outer — so the planner stays free to broadcast the
                # source side (Spark can never broadcast a full-outer
                # join; it would force a two-sided shuffle sort-merge
                # even for a tiny update batch against a pruned file
                # set). INSERT rows come from a separate anti join below:
                # its shuffles hash on the same keys, so at scale exchange
                # reuse/AQE shares them with the rewrite join, and at
                # small scale both broadcast.
                src_marked = self.source.withColumn("__src", F.lit(1)).alias("source")
                unmatched = F.col("source.__src").isNull()
                matched_idx = first_true([c for *_, c in self.matched])
                rows = (
                    tgt.join(src_marked, cond, "left_outer")
                    .withColumn("__clause", F.when(~unmatched, matched_idx))
                    .withColumn("__nmbs", F.when(unmatched, nmbs))
                )
            else:
                # NOT-MATCHED-BY-SOURCE without matched clauses: a multi-
                # match source can't corrupt anything, so no probe — split
                # target into matched (kept verbatim, semi join) and
                # unmatched (clauses apply, anti join). Both joins hash on
                # the same keys → AQE/exchange reuse shares the shuffle.
                rows = (
                    tgt.join(src, cond, "left_semi")
                    .withColumn("__nmbs", F.lit(None).cast("int"))
                    .unionByName(
                        tgt.join(src, cond, "left_anti").withColumn("__nmbs", nmbs)
                    )
                    .alias("target")
                )
            rows = rows.withColumn(ACTION_COL, action)

        gen_cols = t._generated_columns(tprops)

        def insert_rows(unmatched_src: DataFrame) -> DataFrame:
            """Each unmatched source row projected onto the schema by the
            first insert clause whose condition is TRUE. A generated
            column that clause leaves unassigned is computed over the
            projected (single-sided, unambiguous) row."""
            tagged = unmatched_src.withColumn(
                "__ins", first_true([c for _, c in self.not_matched])
            ).filter(F.col("__ins").isNotNull())
            cols = []
            for f in schema.fields:
                v = F.lit(None)
                for i, (values, _) in enumerate(self.not_matched):
                    if values is None:  # INSERT ALL
                        assigned = f.name in self.source.columns
                        x = F.col(f"source.{f.name}") if assigned else F.lit(None)
                    else:
                        x = F.expr(values[f.name]) if f.name in values else F.lit(None)
                    v = F.when(F.col("__ins") == i, x.cast(f.dataType)).otherwise(v)
                cols.append(v.cast(f.dataType).alias(f.name))
            out = tagged.select(*cols, "__ins")
            for gc, ge in gen_cols.items():
                own = [
                    i
                    for i, (values, _) in enumerate(self.not_matched)
                    if gc not in (self.source.columns if values is None else values)
                ]
                if own and gc in types:
                    out = out.withColumn(
                        gc,
                        F.when(F.col("__ins").isin(own), F.expr(ge).cast(types[gc]))
                        .otherwise(F.col(gc)),
                    )
            return out.drop("__ins")

        inserts: DataFrame | None = None
        ident_props: dict[str, str] = {}
        if self.not_matched:
            # a source row unmatched in the touched files is unmatched
            # in the whole table: pruning only drops files whose key
            # ranges provably exclude every source key. With no touched
            # file, an insert-only merge anti-joins the whole table;
            # otherwise the probe proved that no source row matches.
            against = touched or ([] if self.matched else files)
            unmatched_src = src
            if against:
                tgt_rows = t._read_entries(against, schema, tprops).alias("target")
                unmatched_src = src.join(tgt_rows, cond, "left_anti")
            inserts = insert_rows(unmatched_src)
            if idents:
                # fresh contiguous identity values stamped from the
                # watermark (one extra metadata-sized count job over the
                # unmatched slice; the advanced watermark commits WITH
                # the merge, so concurrent identity writers OCC-conflict
                # instead of double-allocating)
                inserts, ident_props = t._allocate_identity(inserts, idents)
                # pin the evaluated allocation: identity values derive
                # from spark_partition_id + monotonically_increasing_id,
                # so the CDF job re-executing this plan later could see
                # a DIFFERENT AQE partitioning and stamp different (or
                # NULL-offset) values than the committed table data —
                # localCheckpoint makes both jobs read the same rows
                inserts = inserts.localCheckpoint(eager=False)

        params = {"predicate": self.condition, **self.extra_params}
        if rows is None and inserts is None:
            t._commit_dml(
                snap,
                "MERGE",
                [],
                [],
                params,
                0,
                schema_json=evolved_json,
                properties=self.extra_props or None,
            )
            return {"numUpdatedRows": 0, "numDeletedRows": 0, "numInsertedRows": 0}

        def verify(m: dict[str, Any], entries: list[FileEntry]) -> None:
            # without a probe, ambiguity shows in the counts: each row of
            # the touched files is kept, updated or deleted exactly once
            n_target = m[KEEP] + m[UPDATE] + m[DELETE]
            if skip_probe and n_target != sum(f.num_records for f in touched):
                t._discard(entries)
                raise ValueError(
                    "MERGE: multiple source rows matched the same target row"
                )

        m = t._rewrite(
            rows,
            schema,
            partition_by,
            tprops,
            lambda entries, n: t._commit_dml(
                snap,
                "MERGE",
                entries,
                [f.path for f in touched],
                params,
                n,
                schema_json=evolved_json,
                properties={**self.extra_props, **ident_props} or None,
            ),
            cdf=tprops.get(CDF_PROP) == "true",
            sets=sets,
            inserts=inserts,
            checks=t._all_checks(tprops),
            verify=verify,
        )
        return {
            "numUpdatedRows": m[UPDATE],
            "numDeletedRows": m[DELETE],
            "numInsertedRows": m[INSERT],
        }
