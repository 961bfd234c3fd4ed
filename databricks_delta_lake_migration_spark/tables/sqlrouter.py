"""Delta-dialect utility SQL over named log tables.

The reference's users drive the table format from SQL
(``04_acid_operations.py``, ``src/delta_utils.py``: ``OPTIMIZE t ZORDER
BY (...)``, ``VACUUM t RETAIN n HOURS [DRY RUN]``, ``DESCRIBE
HISTORY``, ``RESTORE TABLE ... TO VERSION AS OF``, ``UPDATE`` /
``DELETE`` / ``MERGE INTO``). Spark's parser has no Delta extensions in
this environment, so :func:`route` recognizes the canonical spellings
with anchored case-insensitive grammars and dispatches to the LogTable
API; anything unrecognized returns ``None`` and flows to plain
``spark.sql`` (SELECT etc. over the catalog's bound views).

Statement coverage (the forms the reference actually uses):

- ``DESCRIBE HISTORY t`` / ``DESCRIBE DETAIL t``
- ``ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c1, c2]``
- ``SHOW TBLPROPERTIES t [('key')]``
- ``ALTER TABLE t SET TBLPROPERTIES (...)`` / ``UNSET TBLPROPERTIES
  [IF EXISTS] (...)`` / ``ALTER TABLE t ADD COLUMNS (name TYPE
  [COMMENT '...'], ...)``
- ``ALTER TABLE t ADD CONSTRAINT name CHECK (pred)`` (existing rows
  validated first) / ``DROP CONSTRAINT [IF EXISTS] name``
- ``ALTER TABLE t RENAME COLUMN old TO new`` / ``DROP COLUMN name``
  (metadata-only via column mapping — no data rewrite)
- ``ALTER TABLE t ALTER COLUMN c TYPE newtype`` (type widening,
  metadata-only; old files upcast at scan time) / ``SET NOT NULL`` /
  ``DROP NOT NULL`` (existing rows validated first; enforced on every
  write) / ``COMMENT '...'``; column defs accept ``NOT NULL``
- ``CREATE TABLE [IF NOT EXISTS] t [PARTITIONED BY (...)] AS SELECT ...``
- ``CREATE TABLE [IF NOT EXISTS] t (col TYPE [COMMENT '...'], ...)
  [USING fmt] [PARTITIONED BY (...)] [CLUSTER BY (...)]
  [TBLPROPERTIES (...)]`` — the DDL the reference's schema→DDL
  generator emits (delta_utils.py:242-256), plus the
  liquid-clustering CLUSTER BY key
- ``INSERT INTO t [(cols)] SELECT ... | VALUES ...`` (positional; an
  explicit column list maps positions, unlisted columns null-fill)
- ``INSERT OVERWRITE [TABLE] t [(cols)] SELECT ... | VALUES ...``
- ``INSERT INTO t REPLACE WHERE pred SELECT ...`` (atomic slice
  refresh — Databricks replaceWhere SQL spelling)
- ``COPY INTO t FROM 'path' [FILEFORMAT = PARQUET|CSV|JSON|ORC]``
- ``OPTIMIZE t [WHERE partition-pred] [ZORDER BY (c1, c2)]``
- ``REORG TABLE t APPLY (PURGE)`` (rewrite deletion-vector files)
- ``SHOW PARTITIONS t`` (metadata-only, from active file paths)
- ``DESCRIBE [TABLE] [EXTENDED] t`` / ``SHOW COLUMNS IN|FROM t`` /
  ``SHOW CREATE TABLE t`` (schema metadata; unregistered names fall
  through to Spark so temp views keep native behavior; the emitted
  CREATE statement round-trips through this router)
- ``SELECT ... FROM table_changes('t', start [, end])`` (CDF TVF,
  bound in :meth:`Catalog.sql`)
- ``VACUUM t [RETAIN n HOURS] [LITE] [DRY RUN]`` (LITE = log-driven
  candidates, no tree walk)
- ``FSCK REPAIR TABLE t [DRY RUN]`` (drop entries whose data files
  vanished out-of-band)
- ``GENERATE symlink_format_manifest FOR TABLE t``
- ``OPTIMIZE t [FULL]`` (FULL re-clusters everything — the default
  rewrite semantics here)
- ``RESTORE TABLE t TO VERSION AS OF n`` / ``TO TIMESTAMP AS OF 'ts'``
- ``DELETE FROM t [WHERE pred]``
- ``UPDATE t SET a = e1, b = e2 [WHERE pred]``
- ``MERGE INTO t [AS] target USING s [AS] source ON cond`` with clause
  chain ``WHEN MATCHED [AND c] THEN UPDATE SET */a=e,... | DELETE``,
  ``WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (exprs)``,
  ``WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE``

Each DML/utility returns a small metrics DataFrame so results compose
with the rest of the SQL surface.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    from .catalog import Catalog

_ID = r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*){0,2}"

_HISTORY = re.compile(rf"^\s*DESCRIBE\s+HISTORY\s+({_ID})\s*;?\s*$", re.I)
_DETAIL = re.compile(rf"^\s*DESCRIBE\s+DETAIL\s+({_ID})\s*;?\s*$", re.I)
_ANALYZE = re.compile(
    rf"^\s*ANALYZE\s+TABLE\s+({_ID})\s+COMPUTE\s+STATISTICS"
    r"(?:\s+FOR\s+(?:(ALL)\s+COLUMNS|COLUMNS\s+([^;]+)))?\s*;?\s*$",
    re.I,
)
_SHOW_PROPS = re.compile(
    rf"^\s*SHOW\s+TBLPROPERTIES\s+({_ID})(?:\s*\(\s*'?([^)']+?)'?\s*\))?\s*;?\s*$",
    re.I,
)
_ALTER_PROPS = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+SET\s+TBLPROPERTIES\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
_ALTER_ADD_COLS = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ADD\s+COLUMNS?\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
_CONVERT = re.compile(
    rf"^\s*CONVERT\s+TO\s+DELTA\s+parquet\s*\.\s*`([^`]+)`"
    rf"(?:\s+AS\s+({_ID}))?\s*;?\s*$",
    re.I,
)
_RENAME_COL = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?\s*;?\s*$",
    re.I,
)
_DROP_COL = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+DROP\s+COLUMNS?\s+`?(\w+)`?\s*;?\s*$",
    re.I,
)
_ALTER_COL_TYPE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ALTER\s+COLUMN\s+`?(\w+)`?\s+TYPE\s+"
    r"([A-Za-z0-9_<>,()\s]+?)\s*;?\s*$",
    re.I,
)
_ALTER_COL_NOTNULL = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ALTER\s+COLUMN\s+`?(\w+)`?\s+"
    r"(SET|DROP)\s+NOT\s+NULL\s*;?\s*$",
    re.I,
)
_ALTER_COL_COMMENT = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ALTER\s+COLUMN\s+`?(\w+)`?\s+"
    r"COMMENT\s+'((?:[^']|'')*)'\s*;?\s*$",
    re.I,
)
_ALTER_COL_DEFAULT = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ALTER\s+COLUMN\s+`?(\w+)`?\s+"
    r"(?:SET\s+DEFAULT\s+(.+?)|DROP\s+DEFAULT)\s*;?\s*$",
    re.I | re.S,
)
_ALTER_UNSET_PROPS = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+UNSET\s+TBLPROPERTIES\s*"
    r"(?:IF\s+EXISTS\s*)?\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
_ADD_CONSTRAINT = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
    r"CHECK\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
_ADD_PK = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
    r"PRIMARY\s+KEY\s*\(([^)]*)\)\s*;?\s*$",
    re.I,
)
_ADD_FK = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
    rf"FOREIGN\s+KEY\s*\(([^)]*)\)\s+REFERENCES\s+({_ID})\s*\(([^)]*)\)"
    r"\s*;?\s*$",
    re.I,
)
_DROP_CONSTRAINT = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+DROP\s+CONSTRAINT\s+"
    r"(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
    re.I,
)
_DROP_FEATURE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_ID})\s+DROP\s+FEATURE\s+`?(\w+)`?\s*;?\s*$",
    re.I,
)
_CREATE_VIEW = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+({_ID})\s+AS\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
_DROP_VIEW = re.compile(
    rf"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?({_ID})\s*;?\s*$", re.I
)
_SHOW_VIEWS = re.compile(r"^\s*SHOW\s+VIEWS\s*;?\s*$", re.I)
_COL_DEF = re.compile(
    r"^\s*`?(\w+)`?\s+([A-Za-z0-9_<>,()\s]+?)"
    # DEFAULT literal: quoted string, call like current_date(), or a
    # bare token (number / boolean / NULL)
    r"(?:\s+DEFAULT\s+('(?:[^']|'')*'|\w+\s*\([^)]*\)|[^\s]+?))?"
    r"(?:\s+(NOT\s+NULL))?"
    r"(?:\s+COMMENT\s+'((?:[^']|'')*)')?\s*$",
    re.I | re.S,
)


def _unquote(s: str) -> str:
    """Strip one layer of SQL quoting and unescape doubled quotes
    (``'team''s'`` → ``team's``) so SHOW CREATE TABLE output parses
    back to the original metadata."""
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        return s[1:-1].replace(s[0] * 2, s[0])
    return s


_CLONE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_ID})\s+"
    rf"(SHALLOW\s+|DEEP\s+)?CLONE\s+({_ID})"
    r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$",
    re.I,
)
_DROP = re.compile(
    rf"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?({_ID})\s*;?\s*$", re.I
)
_SHOW_TABLES = re.compile(
    rf"^\s*SHOW\s+TABLES(?:\s+(?:IN|FROM)\s+({_ID}))?\s*;?\s*$", re.I
)
_TRUNCATE = re.compile(rf"^\s*TRUNCATE\s+TABLE\s+({_ID})\s*;?\s*$", re.I)
# column-definition CREATE TABLE (delta_utils.py:242-256 generates this
# DDL; the reference's create_table runs it). Must be tried AFTER _CTAS
# and _CLONE — "(...)" here is a column list, not a partition spec.
_CREATE_COLS = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_ID})\s*"
    r"\((.*?)\)\s*"
    rf"(?:USING\s+\w+\s*)?"
    r"(?:PARTITIONED\s+BY\s*\(([^)]+)\)\s*)?"
    r"(?:CLUSTER\s+BY\s*\(([^)]+)\)\s*)?"
    r"(?:TBLPROPERTIES\s*\((.*)\)\s*)?;?\s*$",
    re.I | re.S,
)
_CTAS = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_ID})"
    rf"(?:\s+PARTITIONED\s+BY\s*\(([^)]+)\))?"
    rf"(?:\s+CLUSTER\s+BY\s*\(([^)]+)\))?\s+AS\s+(SELECT\b.*)$",
    re.I | re.S,
)
_INSERT_INTO = re.compile(
    rf"^\s*INSERT\s+INTO\s+({_ID})\s*(?:\(([^)]+)\)\s*)?(SELECT\b.*|VALUES\b.*)$",
    re.I | re.S,
)
_INSERT_OVERWRITE = re.compile(
    rf"^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?({_ID})\s*"
    r"(?:\(([^)]+)\)\s*)?(SELECT\b.*|VALUES\b.*)$",
    re.I | re.S,
)
_INSERT_REPLACE_WHERE = re.compile(
    rf"^\s*INSERT\s+INTO\s+({_ID})\s+REPLACE\s+WHERE\s+(.+?)\s+"
    r"(SELECT\b.*|VALUES\b.*)$",
    re.I | re.S,
)
_OPTIMIZE = re.compile(
    rf"^\s*OPTIMIZE\s+({_ID})(?:\s+FULL)?(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$",
    re.I,
)
_SHOW_PARTITIONS = re.compile(
    rf"^\s*SHOW\s+PARTITIONS\s+({_ID})\s*;?\s*$", re.I
)
# DESCRIBE HISTORY/DETAIL never reach this: "HISTORY t" is two words,
# a single _ID cannot span them, and route() tries those first anyway.
_DESCRIBE_TABLE = re.compile(
    rf"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(EXTENDED\s+)?({_ID})\s*;?\s*$", re.I
)
_SHOW_COLUMNS = re.compile(
    rf"^\s*SHOW\s+COLUMNS\s+(?:IN|FROM)\s+({_ID})\s*;?\s*$", re.I
)
_SHOW_CREATE = re.compile(
    rf"^\s*SHOW\s+CREATE\s+TABLE\s+({_ID})\s*;?\s*$", re.I
)
_REORG = re.compile(
    rf"^\s*REORG\s+TABLE\s+({_ID})\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$", re.I
)
_COPY_INTO = re.compile(
    rf"^\s*COPY\s+INTO\s+({_ID})\s+FROM\s+'([^']+)'"
    r"(?:\s+FILEFORMAT\s*=\s*(\w+))?\s*;?\s*$",
    re.I,
)
_VACUUM = re.compile(
    rf"^\s*VACUUM\s+({_ID})(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?"
    r"(\s+LITE)?(\s+DRY\s+RUN)?\s*;?\s*$",
    re.I,
)
_FSCK = re.compile(
    rf"^\s*FSCK\s+REPAIR\s+TABLE\s+({_ID})(\s+DRY\s+RUN)?\s*;?\s*$", re.I
)
_GENERATE = re.compile(
    rf"^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+({_ID})"
    r"\s*;?\s*$",
    re.I,
)
_RESTORE = re.compile(
    rf"^\s*RESTORE\s+TABLE\s+({_ID})\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*$",
    re.I,
)
_DELETE = re.compile(
    rf"^\s*DELETE\s+FROM\s+({_ID})(?:\s+WHERE\s+(.*?))?\s*;?\s*$", re.I | re.S
)
_UPDATE = re.compile(
    rf"^\s*UPDATE\s+({_ID})\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?\s*;?\s*$", re.I | re.S
)
_MERGE = re.compile(
    rf"^\s*MERGE\s+INTO\s+({_ID})(?:\s+AS)?\s+target\s+"
    rf"USING\s+({_ID})(?:\s+AS)?\s+source\s+ON\s+(.*?)\s*"
    r"(?=(?:WHEN\s))(.*?);?\s*$",
    re.I | re.S,
)
_WHEN = re.compile(
    r"WHEN\s+(NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED|MATCHED)"
    r"(?:\s+AND\s+(.*?))?\s+THEN\s+"
    r"(UPDATE\s+SET\s+\*|UPDATE\s+SET\s+.*?|DELETE|INSERT\s+\*|INSERT\s*\(.*?\)\s*VALUES\s*\(.*?\))"
    r"\s*(?=WHEN\s|$)",
    re.I | re.S,
)


def _split_top(s: str) -> list[str]:
    """Split on commas outside parens/quotes (SET-assignment lists)."""
    out, depth, cur, quote = [], 0, [], None
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [x for x in out if x]


def _assignments(s: str) -> dict[str, str]:
    out = {}
    for part in _split_top(s):
        k, _, v = part.partition("=")
        if not _:
            raise ValueError(f"bad assignment: {part!r}")
        out[k.strip().removeprefix("target.")] = v.strip()
    return out


def _one_row(spark, d: dict) -> DataFrame:
    import json as _json

    vals = [
        (k, _json.dumps(v) if isinstance(v, (dict, list)) else str(v))
        for k, v in d.items()
    ]
    return spark.createDataFrame([tuple(v for _, v in vals)], [k for k, _ in vals])


def route(cat: "Catalog", query: str) -> DataFrame | None:
    """Try to interpret ``query`` as a Delta utility statement over a
    registered table; return its result DataFrame or ``None`` when the
    statement isn't one (caller falls through to plain SQL)."""
    spark = cat.spark

    if m := _HISTORY.match(query):
        return cat.table(m.group(1)).history()

    if m := _CREATE_VIEW.match(query):
        cat.create_view(
            m.group(2), m.group(3), or_replace=m.group(1) is not None
        )
        return _one_row(spark, {"viewCreated": cat._fq(m.group(2))})

    if m := _DROP_VIEW.match(query):
        cat.drop_view(m.group(2), if_exists=m.group(1) is not None)
        return _one_row(spark, {"viewDropped": cat._fq(m.group(2))})

    if _SHOW_VIEWS.match(query):
        views = cat._load_views()
        if not views:
            return spark.createDataFrame(
                [], "namespace string, viewName string, body string"
            )
        rows = [tuple(fq.rsplit(".", 1)) + (body,) for fq, body in
                sorted(views.items())]
        return spark.createDataFrame(
            rows, ["namespace", "viewName", "body"]
        )

    if m := _DETAIL.match(query):
        # delta_utils.py:267 / data_processor.py:319 read .first() off
        # DESCRIBE DETAIL — mirror Delta's one-row shape
        return _one_row(spark, cat.table(m.group(1)).detail())

    if m := _ANALYZE.match(query):
        from .maintenance import compute_stats

        # FOR ALL COLUMNS and a bare COMPUTE STATISTICS both mean every
        # column (compute_stats' None); an explicit list narrows it
        cols = (
            [c.strip().strip("`") for c in m.group(3).split(",")]
            if m.group(3)
            else None
        )
        return _one_row(spark, compute_stats(cat.table(m.group(1)), columns=cols))

    if m := _ALTER_PROPS.match(query):
        # delta_utils.py:163,382: both '"k" = "v"' quoting and bare
        # dotted keys/values (delta.enableChangeDataFeed = true)
        props = {}
        for part in _split_top(m.group(2)):
            k, sep, v = part.partition("=")
            if not sep:
                raise ValueError(f"bad TBLPROPERTIES entry: {part!r}")
            props[_unquote(k)] = _unquote(v)
        cat.table(m.group(1)).set_properties(props)
        return _one_row(spark, {"propertiesSet": props})

    if m := _ALTER_ADD_COLS.match(query):
        # 04_acid_operations.py:290-296: name TYPE [COMMENT '...']
        from pyspark.sql.types import StructField, _parse_datatype_string

        fields = []
        for part in _split_top(m.group(2)):
            cm = _COL_DEF.match(part)
            if not cm:
                raise ValueError(f"bad column definition: {part!r}")
            if cm.group(4):
                # Delta semantics: existing rows would null-fill the new
                # column, so a NOT NULL addition is born violated
                raise ValueError(
                    f"cannot ADD a NOT NULL column ({cm.group(1)}): "
                    "existing rows would violate it — add nullable, "
                    "backfill, then ALTER COLUMN SET NOT NULL"
                )
            if cm.group(3):
                # Delta's rule too: ADD COLUMN cannot carry a DEFAULT
                # (existing rows read NULL, which the default would
                # silently contradict) — add, then SET DEFAULT
                raise ValueError(
                    f"cannot ADD a column with DEFAULT ({cm.group(1)}): "
                    "add it, then ALTER COLUMN SET DEFAULT (affects "
                    "future writes only)"
                )
            meta = {"comment": cm.group(5).replace("''", "'")} if cm.group(5) else None
            fields.append(
                StructField(
                    cm.group(1), _parse_datatype_string(cm.group(2)), True,
                    metadata=meta,
                )
            )
        cat.table(m.group(1)).add_columns(fields)
        return _one_row(spark, {"columnsAdded": [f.name for f in fields]})

    if m := _CONVERT.match(query):
        # CONVERT TO DELTA parquet.`/path` [AS cat.sch.name] — in-place
        # metadata-only adoption; the optional AS registers the result
        from .logtable import LogTable as _LT

        t = _LT.convert(spark, m.group(1))
        if m.group(2):
            cat.register(m.group(2), t.path)
        d = t.detail()
        return _one_row(
            spark,
            {"converted": True, "numFiles": d["numFiles"],
             "numRecords": d["numRecords"],
             **({"registered": m.group(2)} if m.group(2) else {})},
        )

    if m := _DROP_FEATURE.match(query):
        cat.table(m.group(1)).drop_feature(m.group(2))
        return _one_row(spark, {"featureDropped": m.group(2)})

    if m := _RENAME_COL.match(query):
        cat.table(m.group(1)).rename_column(m.group(2), m.group(3))
        return _one_row(spark, {"renamed": m.group(2), "to": m.group(3)})

    if m := _DROP_COL.match(query):
        cat.table(m.group(1)).drop_column(m.group(2))
        return _one_row(spark, {"columnDropped": m.group(2)})

    if m := _ALTER_COL_NOTNULL.match(query):
        t = cat.table(m.group(1))
        if m.group(3).upper() == "SET":
            t.set_not_null(m.group(2))
        else:
            t.drop_not_null(m.group(2))
        return _one_row(
            spark, {"column": m.group(2), "notNull": m.group(3).upper() == "SET"}
        )

    if m := _ALTER_COL_DEFAULT.match(query):
        t = cat.table(m.group(1))
        if m.group(3) is not None:
            t.set_column_default(m.group(2), m.group(3).strip())
            return _one_row(
                spark, {"column": m.group(2), "default": m.group(3).strip()}
            )
        t.drop_column_default(m.group(2))
        return _one_row(spark, {"column": m.group(2), "default": None})

    if m := _ALTER_COL_COMMENT.match(query):
        cat.table(m.group(1)).alter_column_comment(
            m.group(2), m.group(3).replace("''", "'")
        )
        return _one_row(spark, {"column": m.group(2), "commented": True})

    if m := _ALTER_COL_TYPE.match(query):
        from pyspark.sql.types import _parse_datatype_string

        cat.table(m.group(1)).alter_column_type(
            m.group(2), _parse_datatype_string(m.group(3))
        )
        return _one_row(
            spark, {"column": m.group(2), "type": m.group(3).strip()}
        )

    if m := _ALTER_UNSET_PROPS.match(query):
        keys = [_unquote(p) for p in _split_top(m.group(2))]
        cat.table(m.group(1)).unset_properties(keys)
        return _one_row(spark, {"propertiesUnset": keys})

    if m := _ADD_CONSTRAINT.match(query):
        # Delta semantics: existing rows must already satisfy the
        # predicate (NULL passes, as in write-time CHECK enforcement) or the DDL
        # fails — a constraint must never be born violated.
        from pyspark.sql import functions as F

        t = cat.table(m.group(1))
        name, pred = m.group(2), m.group(3).strip()
        n_bad = t.read().filter(F.expr(pred) == False).count()  # noqa: E712
        if n_bad:
            raise ValueError(
                f"cannot ADD CONSTRAINT {name}: {n_bad} existing rows "
                f"violate CHECK ({pred})"
            )
        t.set_properties({f"constraint.{name}": pred})
        return _one_row(spark, {"constraintAdded": name, "check": pred})

    if m := _ADD_PK.match(query):
        # INFORMATIONAL, like Databricks PK/FK constraints: recorded in
        # table properties for optimizers/audits/lineage, NOT enforced
        # at write time (a lakehouse can't cheaply enforce uniqueness
        # on append; the q33 duplicate audit is the detection path)
        t, name = cat.table(m.group(1)), m.group(2)
        cols = [c.strip() for c in m.group(3).split(",") if c.strip()]
        missing = [c for c in cols if c not in t.read().columns]
        if missing:
            raise ValueError(
                f"PRIMARY KEY columns not in schema: {missing}"
            )
        t.set_properties({f"pk.{name}": ",".join(cols)})
        return _one_row(spark, {"primaryKeyAdded": name,
                                "columns": ",".join(cols)})

    if m := _ADD_FK.match(query):
        # informational FK: child cols -> parent table cols, audited by
        # Catalog.audit_foreign_keys (fk_orphans left-anti scan)
        t, name = cat.table(m.group(1)), m.group(2)
        child_cols = [c.strip() for c in m.group(3).split(",") if c.strip()]
        parent, parent_cols = m.group(4), [
            c.strip() for c in m.group(5).split(",") if c.strip()
        ]
        if len(child_cols) != len(parent_cols):
            raise ValueError("FOREIGN KEY column count mismatch")
        missing = [c for c in child_cols if c not in t.read().columns]
        if missing:
            raise ValueError(f"FOREIGN KEY columns not in schema: {missing}")
        p = cat.table(parent)  # parent must be registered
        pmissing = [c for c in parent_cols if c not in p.read().columns]
        if pmissing:
            raise ValueError(
                f"referenced parent columns not in {parent}: {pmissing}"
            )
        spec = ",".join(child_cols) + "->" + cat._fq(parent) + "(" \
            + ",".join(parent_cols) + ")"
        t.set_properties({f"fk.{name}": spec})
        return _one_row(spark, {"foreignKeyAdded": name, "references": spec})

    if m := _DROP_CONSTRAINT.match(query):
        name = m.group(2)
        t = cat.table(m.group(1))
        present = [
            f"{fam}.{name}" for fam in ("constraint", "pk", "fk")
            if f"{fam}.{name}" in t.properties()
        ]
        if present:
            t.unset_properties(present)
        return _one_row(spark, {"constraintDropped": name})

    if m := _SHOW_PROPS.match(query):
        props = cat.table(m.group(1)).properties()
        if m.group(2):
            k = m.group(2).strip()
            rows = [(k, props.get(k))]
        else:
            rows = sorted(props.items()) or [(None, None)]
        return spark.createDataFrame(
            [(k, v) for k, v in rows], "key string, value string"
        )

    if m := _CLONE.match(query):
        # delta_utils.py:79-105 drives CLONE from SQL; shallow default
        # matches Delta (plain CLONE = deep in Delta Lake ≥ 3; the
        # reference passes the kind explicitly, so we require it too —
        # bare CLONE is deep).
        name, if_not_exists = m.group(2), bool(m.group(1))
        if cat._fq(name) in cat._load():
            if if_not_exists:
                return _one_row(spark, {"cloned": False, "skipped": True})
            raise ValueError(f"table already exists: {cat._fq(name)}")
        src = cat.table(m.group(4))
        shallow = bool(m.group(3)) and m.group(3).strip().upper() == "SHALLOW"
        import os as _os

        target = _os.path.join(cat.root, *cat._fq(name).split("."))
        t = src.clone(
            target,
            shallow=shallow,
            version=int(m.group(5)) if m.group(5) else None,
        )
        cat.register(name, t.path)
        return _one_row(spark, {"cloned": True, "shallow": shallow})

    if m := _DROP.match(query):
        name, if_exists = m.group(2), bool(m.group(1))
        fq = cat._fq(name)
        reg = cat._load()
        if fq not in reg:
            if if_exists:
                return _one_row(spark, {"dropped": False, "skipped": True})
            raise KeyError(f"table not found: {fq}")
        path = reg[fq]
        cat.unbind([name])
        cat.drop(name)
        # Delta semantics: managed tables (under the catalog root) lose
        # their data on DROP; external (register()-attached) tables keep
        # their files and only the name goes away.
        import os as _os
        import shutil as _shutil

        managed = _os.path.realpath(path).startswith(
            _os.path.realpath(cat.root) + _os.sep
        )
        if managed:
            _shutil.rmtree(path, ignore_errors=True)
        return _one_row(spark, {"dropped": True, "purged": managed})

    if m := _SHOW_TABLES.match(query):
        prefix = cat._fq(m.group(1) + ".x").rsplit(".", 1)[0] + "." if m.group(1) else ""
        rows = [
            tuple(fq.rsplit(".", 1))
            for fq in cat.tables()
            if fq.startswith(prefix)
        ]
        return spark.createDataFrame(
            rows, "namespace string, tableName string"
        )

    if m := _TRUNCATE.match(query):
        res = cat.table(m.group(1)).delete("true")
        return _one_row(spark, res)

    if m := _CTAS.match(query):
        name, if_not_exists = m.group(2), bool(m.group(1))
        # Delta CTAS semantics (ADVICE r3): plain CREATE TABLE on an
        # existing name is an error; IF NOT EXISTS is a no-op — never a
        # silent duplicate append (Catalog.create_table returns the
        # existing table when the name is registered).
        if cat._fq(name) in cat._load():
            if if_not_exists:
                return _one_row(spark, {"numOutputRows": 0, "skipped": True})
            raise ValueError(f"table already exists: {cat._fq(name)}")
        df = cat.sql(m.group(5).rstrip().rstrip(";"))
        part = (
            [c.strip().strip("`") for c in m.group(3).split(",")]
            if m.group(3)
            else None
        )
        props = None
        if m.group(4):
            from .logtable import CLUSTERING_PROP

            cluster = [c.strip().strip("`") for c in m.group(4).split(",")]
            bad = [c for c in cluster if c not in df.columns]
            if bad:
                raise ValueError(f"CLUSTER BY column(s) not in schema: {bad}")
            props = {CLUSTERING_PROP: ",".join(cluster)}
        t = cat.create_table(
            name, df.schema, partition_by=part, properties=props
        )
        t.append(df)
        return _one_row(spark, {"numOutputRows": t.read().count()})

    if m := _CREATE_COLS.match(query):
        # empty table from column definitions — the DDL shape the
        # reference's schema→DDL generator emits (delta_utils.py:242-256)
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        name, if_not_exists = m.group(2), bool(m.group(1))
        if cat._fq(name) in cat._load():
            if if_not_exists:
                return _one_row(spark, {"created": False, "skipped": True})
            raise ValueError(f"table already exists: {cat._fq(name)}")
        fields = []
        notnull_cols = []
        default_exprs = {}
        for part_def in _split_top(m.group(3)):
            cm = _COL_DEF.match(part_def)
            if not cm:
                raise ValueError(f"bad column definition: {part_def!r}")
            meta = {"comment": cm.group(5).replace("''", "'")} if cm.group(5) else None
            if cm.group(4):
                notnull_cols.append(cm.group(1))
            if cm.group(3):
                default_exprs[cm.group(1)] = cm.group(3)
            fields.append(
                StructField(
                    cm.group(1), _parse_datatype_string(cm.group(2)),
                    not cm.group(4),
                    metadata=meta,
                )
            )
        part = (
            [c.strip().strip("`") for c in m.group(4).split(",")]
            if m.group(4)
            else None
        )
        props = {}
        if m.group(6):
            for entry in _split_top(m.group(6)):
                k, sep, v = entry.partition("=")
                if not sep:
                    raise ValueError(f"bad TBLPROPERTIES entry: {entry!r}")
                props[_unquote(k)] = _unquote(v)
        if m.group(5):
            # CLUSTER BY — liquid-clustering key as the clustering prop
            from .logtable import CLUSTERING_PROP

            cluster = [c.strip().strip("`") for c in m.group(5).split(",")]
            known = {f.name for f in fields}
            bad = [c for c in cluster if c not in known]
            if bad:
                raise ValueError(f"CLUSTER BY column(s) not in schema: {bad}")
            props[CLUSTERING_PROP] = ",".join(cluster)
        for c in notnull_cols:
            props[f"notnull.{c}"] = "true"
        for c, e in default_exprs.items():
            props[f"default.{c}"] = e
        cat.create_table(
            name, StructType(fields), partition_by=part, properties=props or None
        )
        return _one_row(
            spark, {"created": True, "columns": [f.name for f in fields]}
        )

    def _build_insert_df(t, cols_spec, raw_body):
        """Positional INSERT source → DataFrame named for the target.

        SQL INSERT is positional: VALUES rows arrive named col1..colN
        and a SELECT's output names need not match the target's, but
        LogTable._align projects by name with missing-as-null — so an
        unaligned insert silently wrote all-NULL rows (ADVICE r3).
        Validate arity, then rename positionally. An explicit column
        list maps positions to those columns; the rest become NULL."""
        body = raw_body.rstrip().rstrip(";")
        target_names = [f.name for f in t.schema().fields]
        if cols_spec:
            listed = [c.strip().strip("`") for c in _split_top(cols_spec)]
            unknown = [c for c in listed if c not in target_names]
            if unknown:
                raise ValueError(f"INSERT column(s) not in target: {unknown}")
            dest = listed
        else:
            dest = target_names
        is_values = body.upper().startswith("VALUES")
        if is_values and re.search(r"\bDEFAULT\b", body, re.I):
            # the DEFAULT keyword in a VALUES tuple takes the target
            # column's declared default (NULL when none) — substituted
            # positionally before Spark parses the literal rows. Only a
            # whole top-level element spells the keyword, so string
            # literals containing the word are untouched.
            defaults = {
                k.removeprefix("default."): v
                for k, v in t.properties().items()
                if k.startswith("default.")
            }
            rows = []
            for tup in _split_top(body[6:].strip()):
                inner = tup.strip()
                if not (inner.startswith("(") and inner.endswith(")")):
                    raise ValueError(f"bad VALUES tuple: {tup!r}")
                elems = _split_top(inner[1:-1])
                out_elems = []
                for i, el in enumerate(elems):
                    if el.strip().upper() == "DEFAULT":
                        col = dest[i] if i < len(dest) else None
                        out_elems.append(
                            f"({defaults[col]})" if col in defaults else "NULL"
                        )
                    else:
                        out_elems.append(el)
                rows.append("(" + ", ".join(out_elems) + ")")
            body = "VALUES " + ", ".join(rows)
        df = spark.sql(f"SELECT * FROM {body}") if is_values else cat.sql(body)
        if len(df.columns) != len(dest):
            raise ValueError(
                f"INSERT arity mismatch: query produces {len(df.columns)} "
                f"columns {df.columns}, insert target has {len(dest)} "
                f"{dest}"
            )
        return df.toDF(*dest)

    if m := _INSERT_REPLACE_WHERE.match(query):
        # Databricks' idempotent slice refresh: INSERT INTO t REPLACE
        # WHERE pred SELECT ... — rows matching pred are atomically
        # replaced by the (pred-validated) input, everything else is
        # untouched (tried before plain INSERT INTO: its body group
        # requires SELECT/VALUES so REPLACE WHERE never false-matches)
        t = cat.table(m.group(1))
        df = _build_insert_df(t, None, m.group(3))
        t.overwrite(df, replace_where=m.group(2).strip())
        return _one_row(
            spark,
            {"numInsertedRows": df.count(),
             "replaceWhere": m.group(2).strip()},
        )

    if m := _INSERT_OVERWRITE.match(query):
        t = cat.table(m.group(1))
        df = _build_insert_df(t, m.group(2), m.group(3))
        t.overwrite(df)
        return _one_row(spark, {"numInsertedRows": df.count()})

    if m := _INSERT_INTO.match(query):
        t = cat.table(m.group(1))
        df = _build_insert_df(t, m.group(2), m.group(3))
        t.append(df)  # _align null-fills any unlisted target columns
        return _one_row(spark, {"numInsertedRows": df.count()})

    if m := _OPTIMIZE.match(query):
        t = cat.table(m.group(1))
        where = m.group(2)  # partition scope (Delta's OPTIMIZE ... WHERE)
        if m.group(3):
            cols = [c.strip().strip("`") for c in m.group(3).split(",")]
            return _one_row(spark, t.zorder(cols, where=where))
        return _one_row(spark, t.optimize(where=where))

    if m := _SHOW_PARTITIONS.match(query):
        t = cat.table(m.group(1))
        parts = t.partition_columns()
        if not parts:
            raise ValueError(f"{m.group(1)} is not a partitioned table")
        from .logtable import _partition_values

        mapping = t._column_mapping()
        phys = [mapping.get(c, c) for c in parts]
        # metadata-only: values come from the active file paths, no scan
        vals = sorted(
            {
                tuple(_partition_values(f.path).get(p) for p in phys)
                for f in t._replay()[0]
            },
            key=lambda v: tuple((x is None, x or "") for x in v),  # NULLs last
        )
        return spark.createDataFrame(
            [tuple(v) for v in vals], ", ".join(f"`{c}` string" for c in parts)
        )

    if m := _DESCRIBE_TABLE.match(query):
        if cat._fq(m.group(2)) not in cat._load():
            return None  # temp view / plain name → Spark's own DESCRIBE
        t = cat.table(m.group(2))
        schema, parts = t.schema(), t.partition_columns()

        def _row(f):
            return (
                f.name,
                f.dataType.simpleString(),
                (f.metadata or {}).get("comment"),
            )

        by_name = {f.name: f for f in schema.fields}
        rows = [_row(f) for f in schema.fields]
        if parts:
            # Delta's sectioned shape: partition columns repeated below
            rows += [
                ("# Partition Information", "", ""),
                ("# col_name", "data_type", "comment"),
            ]
            rows += [_row(by_name[c]) for c in parts]
        if m.group(1):
            d = t.detail()
            rows += [
                ("", "", ""),
                ("# Detailed Table Information", "", ""),
                ("Name", cat._fq(m.group(2)), ""),
                ("Location", t.path, ""),
                ("Provider", "delta", ""),
                ("numFiles", str(d["numFiles"]), ""),
                ("sizeInBytes", str(d["sizeInBytes"]), ""),
            ]
            props = t.properties()
            if props:
                rows.append((
                    "Table Properties",
                    "[" + ",".join(f"{k}={v}" for k, v in sorted(props.items())) + "]",
                    "",
                ))
        return spark.createDataFrame(
            rows, "col_name string, data_type string, comment string"
        )

    if m := _SHOW_COLUMNS.match(query):
        if cat._fq(m.group(1)) not in cat._load():
            return None
        return spark.createDataFrame(
            [(f.name,) for f in cat.table(m.group(1)).schema().fields],
            "col_name string",
        )

    if m := _SHOW_CREATE.match(query):
        if cat._fq(m.group(1)) not in cat._load():
            return None
        t = cat.table(m.group(1))

        def _q(s: str) -> str:
            return s.replace("'", "''")

        defaults = {
            k.removeprefix("default."): v
            for k, v in t.properties().items()
            if k.startswith("default.")
        }
        col_lines = []
        for f in t.schema().fields:
            line = f"  `{f.name}` {f.dataType.simpleString()}"
            if f.name in defaults:
                line += f" DEFAULT {defaults[f.name]}"
            if not f.nullable:
                line += " NOT NULL"
            c = (f.metadata or {}).get("comment")
            if c:
                line += f" COMMENT '{_q(c)}'"
            col_lines.append(line)
        stmt = (
            f"CREATE TABLE {cat._fq(m.group(1))} (\n"
            + ",\n".join(col_lines)
            + "\n) USING DELTA"
        )
        parts = t.partition_columns()
        if parts:
            stmt += "\nPARTITIONED BY (" + ", ".join(f"`{c}`" for c in parts) + ")"
        from .logtable import CLUSTERING_PROP

        props = dict(t.properties())
        # NOT NULL / DEFAULT are emitted as column clauses, not raw props
        props = {
            k: v
            for k, v in props.items()
            if not k.startswith(("notnull.", "default."))
        }
        cluster = [c for c in props.pop(CLUSTERING_PROP, "").split(",") if c]
        if cluster:
            stmt += "\nCLUSTER BY (" + ", ".join(f"`{c}`" for c in cluster) + ")"
        if props:
            stmt += (
                "\nTBLPROPERTIES (\n  "
                + ",\n  ".join(
                    f"'{_q(k)}' = '{_q(v)}'" for k, v in sorted(props.items())
                )
                + "\n)"
            )
        return _one_row(spark, {"createtab_stmt": stmt})

    if m := _REORG.match(query):
        # rewrite files carrying deletion vectors (optimize() always
        # compacts DV-carrying files regardless of size — the PURGE)
        return _one_row(spark, cat.table(m.group(1)).optimize())

    if m := _FSCK.match(query):
        rep = cat.table(m.group(1)).fsck_repair(dry_run=bool(m.group(2)))
        return _one_row(
            spark,
            {"numFilesRemoved": rep["numFilesRemoved"],
             "dryRun": bool(m.group(2))},
        )

    if m := _GENERATE.match(query):
        written = cat.table(m.group(1)).generate_manifest()
        return _one_row(spark, {"numManifestsWritten": len(written)})

    if m := _COPY_INTO.match(query):
        t = cat.table(m.group(1))
        fmt = (m.group(3) or "parquet").lower()
        return _one_row(spark, t.copy_into(m.group(2), file_format=fmt))

    if m := _VACUUM.match(query):
        t = cat.table(m.group(1))
        removed = t.vacuum(
            # no RETAIN clause → the table's retention property decides
            retain_hours=float(m.group(2)) if m.group(2) else None,
            dry_run=bool(m.group(4)),
            lite=bool(m.group(3)),
        )
        return _one_row(
            spark, {"numFilesRemoved": len(removed), "dryRun": bool(m.group(4))}
        )

    if m := _RESTORE.match(query):
        t = cat.table(m.group(1))
        if m.group(2) is not None:
            res = t.restore(version=int(m.group(2)))
        else:
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(m.group(3))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)  # session tz is pinned UTC
            res = t.restore(timestamp=dt.timestamp())
        return _one_row(spark, res if isinstance(res, dict) else {"restored": True})

    if m := _DELETE.match(query):
        t = cat.table(m.group(1))
        res = t.delete(m.group(2).strip() if m.group(2) else "true")
        return _one_row(spark, res)

    if m := _UPDATE.match(query):
        t = cat.table(m.group(1))
        res = t.update(
            m.group(3).strip() if m.group(3) else "true", _assignments(m.group(2))
        )
        return _one_row(spark, res)

    if m := _MERGE.match(query):
        t = cat.table(m.group(1))
        src = cat.read(m.group(2))
        b = t.merge(src, m.group(3).strip())
        clauses = _WHEN.findall(m.group(4))
        if not clauses:
            raise ValueError("MERGE needs at least one WHEN clause")
        for kind, cond, action in clauses:
            kind = re.sub(r"\s+", " ", kind.strip().upper())
            cond = cond.strip() or None
            act = action.strip()
            act_u = re.sub(r"\s+", " ", act.upper())
            if kind == "MATCHED":
                if act_u == "DELETE":
                    b.when_matched_delete(condition=cond)
                elif act_u == "UPDATE SET *":
                    b.when_matched_update_all(condition=cond)
                elif act_u.startswith("UPDATE SET"):
                    b.when_matched_update(
                        set=_assignments(act[len("UPDATE SET"):]), condition=cond
                    )
                else:
                    raise ValueError(f"unsupported MATCHED action: {act!r}")
            elif kind == "NOT MATCHED":
                if act_u == "INSERT *":
                    b.when_not_matched_insert_all(condition=cond)
                elif act_u.startswith("INSERT"):
                    cols_m = re.match(
                        r"INSERT\s*\((.*?)\)\s*VALUES\s*\((.*)\)\s*$", act, re.I | re.S
                    )
                    if not cols_m:
                        raise ValueError(f"unsupported INSERT form: {act!r}")
                    cols = [c.strip().removeprefix("target.") for c in _split_top(cols_m.group(1))]
                    vals = _split_top(cols_m.group(2))
                    if len(cols) != len(vals):
                        raise ValueError("INSERT column/value arity mismatch")
                    b.when_not_matched_insert(
                        values=dict(zip(cols, vals)), condition=cond
                    )
                else:
                    raise ValueError(f"unsupported NOT MATCHED action: {act!r}")
            else:  # NOT MATCHED BY SOURCE
                if act_u == "DELETE":
                    b.when_not_matched_by_source_delete(condition=cond)
                elif act_u.startswith("UPDATE SET"):
                    b.when_not_matched_by_source_update(
                        set=_assignments(act[len("UPDATE SET"):]), condition=cond
                    )
                else:
                    raise ValueError(f"unsupported NMBS action: {act!r}")
        return _one_row(spark, b.execute())

    return None
