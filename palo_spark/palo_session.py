"""PaloSession — the single user-facing entry point: Doris SQL text in,
DataFrames out.

A Doris user interacts through SQL over the MySQL protocol (reference
``README_EN.md:4``; SURVEY §1.1/§3.1): ``CREATE TABLE`` with a key model
and hash distribution, ``INSERT``, then ``SELECT`` in the MySQL dialect.
This class wires the repo's pieces behind that exact surface (the wire
protocol itself stays out of scope):

- **DDL** — ``CREATE TABLE name (cols...) [AGGREGATE|UNIQUE|DUPLICATE]
  KEY(k...) [COMMENT ...] DISTRIBUTED BY HASH(c) BUCKETS n
  [PROPERTIES (...)]`` becomes a :class:`~palo_spark.tables.Table`
  (key-model merge-on-read semantics; per-value aggregations
  SUM/MIN/MAX/REPLACE/REPLACE_IF_NOT_NULL parse from the column list).
  ``DROP TABLE [IF EXISTS] name`` unregisters it. ``CREATE VIEW
  [IF NOT EXISTS] name AS SELECT ...`` / ``ALTER VIEW name AS ...`` /
  ``DROP VIEW [IF EXISTS] name`` manage logical views (late-binding:
  the dialect body re-resolves base tables per query, so later inserts
  are visible — Doris view semantics).
- **DML** — ``INSERT INTO name VALUES (...), (...)`` and ``INSERT INTO
  name SELECT ...`` commit a rowset through the table model (the
  OLAP_TABLE_SINK path, same ledger as Stream/Broker Load);
  ``DELETE FROM name WHERE ...`` records a deferred delete predicate
  (metadata-only, Doris delete-version semantics); ``UPDATE name SET
  ... WHERE ...`` is the UNIQUE-model read-modify-upsert.
- **Schema/metadata** — ``ALTER TABLE name ADD COLUMN c TYPE [agg]
  [DEFAULT v]`` (light schema change, metadata-only), ``ALTER TABLE x
  RENAME y``, ``CREATE TABLE x LIKE y``, ``SHOW TABLES``, ``SHOW
  DATABASES``, ``USE``, ``DESC name`` / ``SHOW COLUMNS FROM name``,
  ``SHOW CREATE TABLE`` (round-trippable DDL).
- **Continuous ingestion** — ``CREATE ROUTINE LOAD job ON tbl
  PROPERTIES (...) FROM KAFKA (...)`` plus ``SHOW / PAUSE / RESUME /
  STOP ROUTINE LOAD`` (upstream job FSM; exactly-once via checkpointed
  offsets × the label ledger; ``file://`` broker simulation in this
  jar-less environment).
- **Queries** — everything else goes through
  :func:`~palo_spark.sql_frontend.translate` (MySQL-dialect → Spark
  SQL); if a :class:`~palo_spark.plans.RollupCatalog` is attached and a
  registered rollup covers the query, it is silently answered from the
  rollup first — Doris's transparent MV selection.

Managed tables are exposed to SQL as temp views over the merge-on-read
read() view, refreshed after every mutation — a query always sees
committed table-model semantics.

Scale: DDL/DML parsing is driver-side string work (once per statement);
every produced plan is the same Catalyst plan the DataFrame API builds.
"""

from __future__ import annotations

import json as _json
import os
import re
import shutil as _sh
import tempfile as _tf
import threading as _threading
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession

from palo_spark.sql_frontend import doris_sql, translate
from palo_spark.tables import AGG_TYPES, Table

#: Doris column type → Spark SQL type (DDL position; the scalar-function
#: CAST map lives in sql_frontend._TYPE_MAP)
_DDL_TYPES = {
    "boolean": "boolean",
    "tinyint": "tinyint",
    "smallint": "smallint",
    "int": "int",
    "integer": "int",
    "bigint": "bigint",
    "largeint": "decimal(38,0)",
    "float": "float",
    "double": "double",
    "date": "date",
    "datetime": "timestamp",
    # LARGEINT (int128): decimal(38,0) covers [-1e38, 1e38] of the
    # int128 range [-1.70e38, 1.70e38] — documented edge (SURVEY §6e);
    # arithmetic stays exact, only the outermost 41% of the range is
    # unrepresentable
    "largeint": "decimal(38,0)",
    # sketch-state columns (serialized bytes; AGGREGATE models merge
    # them with BITMAP_UNION / HLL_UNION / QUANTILE_UNION agg types)
    "bitmap": "binary",
    "hll": "binary",
    "quantile_state": "binary",
    "char": "string",
    "varchar": "string",
    "string": "string",
    "text": "string",
    # Doris 2.1 semi-structured columns, VARIANT-lite ([docs: variant],
    # SURVEY §1.4): stored as the JSON text; the session rewrites
    # `col['key']` subscripts on declared variant/json columns to
    # get_json_object paths, so typed access is CAST(col['k'] AS INT).
    # The columnar subcolumn shredding Doris does at load time is
    # deliberately out of scope — parquet + JSON-path pushdown is the
    # Spark-idiomatic equivalent surface.
    "variant": "string",
    "json": "string",
    "jsonb": "string",
}

_CREATE_HEAD_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?`?(?P<name>\w+)`?\s*\(",
    re.IGNORECASE,
)

_CREATE_TAIL_RE = re.compile(
    r"^\s*(?:ENGINE\s*=\s*\w+\s*)?"
    r"(?:(?P<model>AGGREGATE|UNIQUE|DUPLICATE)\s+KEY\s*\((?P<keys>[^)]*)\)\s*)?"
    r"(?:COMMENT\s+'[^']*'\s*)?"
    r"(?:AUTO\s+PARTITION\s+BY\s+(?:RANGE\s*\(\s*date_trunc\s*\(\s*`?(?P<pcol>\w+)`?\s*,"
    r"\s*'(?P<pgran>\w+)'\s*\)\s*\)"
    r"|LIST\s*\(\s*`?(?P<lcol>\w+)`?\s*\))\s*(?:\(\s*\)\s*)?)?"
    r"(?:DISTRIBUTED\s+BY\s+HASH\s*\((?P<dist>[^)]*)\)\s*(?:BUCKETS\s+(?P<buckets>\d+))?\s*)?"
    r"(?:PROPERTIES\s*\((?P<props>.*)\)\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _balanced_span(s: str, open_i: int) -> int:
    """Index just past the ``)`` matching the ``(`` at ``open_i``
    (quote-aware)."""
    depth, q = 0, None
    for i in range(open_i, len(s)):
        ch = s[i]
        if q:
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError("unbalanced parentheses in CREATE TABLE")

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+`?(?P<name>\w+)`?\s*"
    # Doris idempotent-load surface: `INSERT INTO t WITH LABEL lbl ...`
    # — a retried statement under the same label is a no-op (the label
    # ledger in the table metadata is the dedup)
    r"(?:WITH\s+LABEL\s+`?(?P<label>\w+)`?\s*)?"
    # staged backfill load: rows land in the (invisible) temporary
    # partition until REPLACE PARTITION swaps it in
    r"(?:TEMPORARY\s+PARTITION\s*\(\s*`?(?P<temppart>\w+)`?\s*\)\s*)?"
    # Doris target-partition restriction ([docs: insert] — `INSERT
    # INTO t PARTITION (p1, p2) ...`): rows outside the listed
    # partitions refuse the load (strict-mode posture)
    r"(?:PARTITION\s*\((?P<plist>[^)]*)\)\s*)?"
    r"(?:\((?P<cols>[^)]*)\)\s*)?(?P<body>VALUES\s*.*|SELECT\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ife>IF\s+EXISTS\s+)?`?(?P<name>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+`?(?P<name>\w+)`?"
    r"(?:\s+PARTITION\s*\(?\s*`?(?P<part>[\w-]+)`?\s*\)?)?"
    r"\s+WHERE\s+(?P<cond>.+?);?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# Doris 2.0 join-delete on the UNIQUE model: `DELETE FROM t1 USING t2
# [JOIN t3 ON ...] WHERE <correlating cond>` — executed upstream as an
# insert of delete-sign rows selected by the join, which is exactly how
# the branch below implements it ([docs: delete — DELETE ... USING])
_DELETE_USING_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+`?(?P<name>\w+)`?"
    r"\s+USING\s+(?P<using>.+?)\s+WHERE\s+(?P<cond>.+?);?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# Doris 2.1 scheduled jobs ([docs: job-scheduler — CREATE JOB ... ON
# SCHEDULE ... DO <insert>]): AT one-shot or EVERY-interval recurring,
# controlled via PAUSE/RESUME/DROP JOB WHERE jobname = '...', inspected
# via the jobs()/tasks() metadata TVFs
_CREATE_JOB_RE = re.compile(
    r"^\s*CREATE\s+JOB\s+`?(?P<name>\w+)`?\s+ON\s+SCHEDULE\s+"
    r"(?:AT\s+'(?P<at>[^']+)'"
    r"|EVERY\s+(?P<n>\d+)\s+(?P<unit>SECOND|MINUTE|HOUR|DAY|WEEK)S?"
    r"(?:\s+STARTS\s+'(?P<starts>[^']+)')?"
    r"(?:\s+ENDS\s+'(?P<ends>[^']+)')?)"
    r"(?:\s+COMMENT\s+'(?P<comment>[^']*)')?"
    r"\s+DO\s+(?P<do>.+?);?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_JOB_CTL_RE = re.compile(
    r"^\s*(?P<op>PAUSE|RESUME|DROP)\s+JOB\s+WHERE\s+`?jobname`?\s*=\s*"
    r"['\"](?P<name>\w+)['\"]\s*;?\s*$",
    re.IGNORECASE,
)

_JOB_UNIT_S = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400,
    "week": 7 * 86400,
}

_INSERT_OVERWRITE_RE = re.compile(
    r"^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(?P<rest>`?\w+`?.*)$",
    re.IGNORECASE | re.DOTALL,
)

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+`?(?P<name>\w+)`?(?:\s+(?P<alias>(?!SET\b)\w+))?"
    r"\s+SET\s+(?P<tail>.+?);?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_update_tail(tail: str) -> tuple[str, str | None, str | None]:
    """Split an UPDATE's post-SET text into (sets, from, cond) on the
    first TOP-LEVEL ``FROM`` / ``WHERE`` keywords — depth- and
    quote-aware, so ``EXTRACT(YEAR FROM d)`` in a SET expression or a
    subquery in the source list never splits the statement."""
    depth = 0
    q = False
    from_i = where_i = None
    for i, ch in enumerate(tail):
        if q:
            q = ch != "'"
        elif ch == "'":
            q = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in "FfWw":
            # boundary test must treat '_' as a word char (\b
            # semantics) or SET col_from = 5 splits at the embedded
            # 'from' (ADVICE r10)
            if from_i is None and where_i is None and re.match(
                r"FROM\b", tail[i:], re.IGNORECASE
            ) and (
                i == 0
                or not (tail[i - 1].isalnum() or tail[i - 1] == "_")
            ):
                from_i = i
            elif where_i is None and re.match(
                r"WHERE\b", tail[i:], re.IGNORECASE
            ) and (
                i == 0
                or not (tail[i - 1].isalnum() or tail[i - 1] == "_")
            ):
                where_i = i
    end_sets = min(x for x in (from_i, where_i, len(tail)) if x is not None)
    sets = tail[:end_sets].strip()
    frm = None
    if from_i is not None:
        f_end = where_i if where_i is not None else len(tail)
        frm = tail[from_i + 4 : f_end].strip()
    cond = tail[where_i + 5 :].strip() if where_i is not None else None
    return sets, frm, cond

_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+ADD\s+COLUMN\s+"
    r"`?(?P<col>\w+)`?\s+(?P<type>\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
    r"(?:\s+(?P<agg>SUM|MIN|MAX|REPLACE|REPLACE_IF_NOT_NULL))?"
    r"(?:\s+DEFAULT\s+(?P<default>'[^']*'|\S+))?\s*;?\s*$",
    re.IGNORECASE,
)

_DESC_RE = re.compile(
    # SHOW COLUMNS FROM t is the MySQL-client spelling of DESC t
    r"^\s*(?:DESC(?:RIBE)?|SHOW\s+(?:FULL\s+)?COLUMNS\s+FROM)\s+"
    r"`?(?P<name>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+DROP\s+COLUMN\s+"
    r"`?(?P<col>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+RENAME\s+COLUMN\s+"
    r"`?(?P<old>\w+)`?\s+(?:TO\s+)?`?(?P<new>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_MODIFY_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+MODIFY\s+COLUMN\s+"
    r"`?(?P<col>\w+)`?\s+(?P<type>\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_RENAME_TABLE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+RENAME\s+"
    r"(?!COLUMN\b)`?(?P<new>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+DROP\s+PARTITION\s+"
    r"`?(?P<label>[\w-]+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_ADD_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+ADD\s+"
    r"(?P<temp>TEMPORARY\s+)?PARTITION\s+"
    r"`?(?P<part>[A-Za-z]\w*)`?\s+VALUES\s+"
    r"(?:LESS\s+THAN\s*\(\s*"
    r"(?P<upper>MAXVALUE|'[^']*'|-?\d+(?:\.\d+)?)\s*\)"
    r"|IN\s*\(\s*(?P<invals>[^)]*?)\s*\))\s*;?\s*$",
    re.IGNORECASE,
)

_ALTER_REPLACE_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+REPLACE\s+PARTITION\s*"
    r"\(\s*`?(?P<formal>\w+)`?\s*\)\s+WITH\s+TEMPORARY\s+PARTITION\s*"
    r"\(\s*`?(?P<temp>\w+)`?\s*\)\s*;?\s*$",
    re.IGNORECASE,
)

_SHOW_PARTS_RE = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+FROM\s+`?(?P<name>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_EXPORT_RE = re.compile(
    r"^\s*EXPORT\s+TABLE\s+`?(?P<name>\w+)`?"
    r"(?:\s+PARTITION\s*\(\s*`?(?P<part>[\w-]+)`?\s*\))?"
    r"\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s+(?:WITH\s+)?FORMAT\s+AS\s+'?(?P<fmt>\w+)'?)?\s*;?\s*$",
    re.IGNORECASE,
)

_SHOW_LOAD_RE = re.compile(
    r"^\s*SHOW\s+LOAD\s+FROM\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_CREATE_ROUTINE_RE = re.compile(
    r"^\s*CREATE\s+ROUTINE\s+LOAD\s+`?(?P<job>\w+)`?\s+ON\s+`?(?P<tbl>\w+)`?"
    r"\s+PROPERTIES\s*\(\s*(?P<props>.*?)\s*\)\s*"
    r"FROM\s+KAFKA\s*\(\s*(?P<kafka>.*?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ROUTINE_CTL_RE = re.compile(
    r"^\s*(?P<op>PAUSE|RESUME|STOP)\s+ROUTINE\s+LOAD\s+FOR\s+"
    r"`?(?P<job>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_ROUTINE_RE = re.compile(
    r"^\s*SHOW\s+(?:ALL\s+)?ROUTINE\s+LOAD(?:\s+FOR\s+`?(?P<job>\w+)`?)?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

_SHOW_DATA_RE = re.compile(
    r"^\s*SHOW\s+DATA(?:\s+FROM\s+`?(?P<name>\w+)`?)?\s*;?\s*$", re.IGNORECASE
)

_SHOW_DELETE_RE = re.compile(
    r"^\s*SHOW\s+DELETE\s+FROM\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_DROP_MV_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+`?(?P<mv>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_REFRESH_MV_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+`?(?P<mv>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_SHOW_MV_RE = re.compile(
    r"^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$", re.IGNORECASE
)

_ANALYZE_RE = re.compile(
    # Doris grammar tails ([docs: analyze]): WITH SYNC (this engine is
    # always synchronous — accepted), WITH SAMPLE PERCENT n / ROWS n
    # (sampled collection)
    r"^\s*ANALYZE\s+TABLE\s+`?(?P<name>\w+)`?"
    r"(?:\s+WITH\s+SYNC)?"
    r"(?:\s+WITH\s+SAMPLE\s+(?:PERCENT\s+(?P<pct>\d+)|ROWS\s+(?P<rows>\d+)))?"
    r"(?:\s+WITH\s+SYNC)?\s*;?\s*$",
    re.IGNORECASE,
)

_SHOW_TABLE_STATS_RE = re.compile(
    r"^\s*SHOW\s+TABLE\s+STATS\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_SHOW_VIEW_RE = re.compile(
    r"^\s*SHOW\s+VIEW\s+FROM\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)

#: per-query variable override ([docs: sql-hints] — `SELECT /*+
#: SET_VAR(k=v, ...) */`): applied for ONE statement, then restored
_SETVAR_HINT_RE = re.compile(
    r"/\*\+\s*SET_VAR\s*\(\s*(?P<pairs>[^)]*)\)\s*\*/", re.IGNORECASE
)

_SHOW_STATS_RE = re.compile(
    r"^\s*SHOW\s+COLUMN\s+STATS\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_PART_SEL_RE = re.compile(
    r"\b(FROM|JOIN)\s+`?(?P<name>\w+)`?\s+PARTITION\s*\((?P<labels>[^)]*)\)",
    re.IGNORECASE,
)

_LOAD_RE = re.compile(
    r"^\s*LOAD\s+LABEL\s+`?(?P<label>[\w.-]+)`?\s*\(\s*"
    r"DATA\s+INFILE\s*\(\s*'(?P<path>[^']+)'\s*\)\s*"
    r"INTO\s+TABLE\s+`?(?P<name>\w+)`?\s*"
    r"(?:FORMAT\s+AS\s+'?(?P<fmt>\w+)'?\s*)?"
    r"(?:WHERE\s+(?P<where>[^)]+?)\s*)?\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+`?(?P<name>\w+)`?"
    r"(?:\s+PARTITION\s*\(\s*`?(?P<part>[\w-]+)`?\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)

_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+`?(?P<name>\w+)`?\s+AS\s+(?P<body>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)

_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_SHOW_CREATE_MV_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+MATERIALIZED\s+VIEW\s+`?(?P<mv>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_SHOW_CREATE_VIEW_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+VIEW\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_SHOW_PARTITIONS_RE = re.compile(
    r"^\s*SHOW\s+(?P<temp>TEMPORARY\s+)?PARTITIONS\s+FROM\s+"
    r"`?(?P<name>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

# runtime property change — today the dynamic_partition retention knob
# (the property users flip on an existing table most)
_ALTER_SET_PROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+SET\s*"
    r"\(\s*(?P<props>.*?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: Doris BACKUP/RESTORE ([docs: admin-manual data-admin backup]) —
#: repository-lite: WITH LOCATION '<dir>' stands in for the upstream
#: WITH BROKER / S3 repository (no remote storage in this build; the
#: manifest + per-table copy semantics are the same).
_CREATE_REPO_RE = re.compile(
    r"^\s*CREATE\s+(?:READ\s+ONLY\s+)?REPOSITORY\s+`?(?P<name>\w+)`?\s+"
    r"WITH\s+LOCATION\s+'(?P<path>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_REPO_RE = re.compile(
    r"^\s*DROP\s+REPOSITORY\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)
_BACKUP_RE = re.compile(
    r"^\s*BACKUP\s+SNAPSHOT\s+`?(?P<label>\w+)`?\s+TO\s+`?(?P<repo>\w+)`?\s+"
    r"ON\s*\(\s*(?P<tables>[`\w,\s]+?)\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
#: privilege / ACL statements ([docs: privilege, row-policy]) — users,
#: roles, GRANT/REVOKE on a scope or of roles, row policies
_CREATE_USER_RE = re.compile(
    r"^\s*CREATE\s+USER\s+(?:IF\s+NOT\s+EXISTS\s+)?'(?P<name>[\w.-]+)'"
    r"(?:@'%')?(?:\s+IDENTIFIED\s+BY\s+'[^']*')?"
    r"(?:\s+DEFAULT\s+ROLE\s+'(?P<role>[\w.-]+)')?\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_USER_RE = re.compile(
    r"^\s*DROP\s+USER\s+'(?P<name>[\w.-]+)'(?:@'%')?\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_ROLE_RE = re.compile(
    r"^\s*CREATE\s+ROLE\s+(?:IF\s+NOT\s+EXISTS\s+)?'?(?P<name>[\w.-]+)'?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_ROLE_RE = re.compile(
    r"^\s*DROP\s+ROLE\s+'?(?P<name>[\w.-]+)'?\s*;?\s*$", re.IGNORECASE
)
_GRANT_PRIV_RE = re.compile(
    r"^\s*(?P<op>GRANT|REVOKE)\s+(?P<privs>[\w\s,]+?)\s+ON\s+"
    r"(?P<scope>(?:`?[\w*]+`?\.)*`?[\w*]+`?)\s+"
    r"(?P<dir>TO|FROM)\s+(?:(?P<isrole>ROLE\s+)?'(?P<who>[\w.-]+)'(?:@'%')?)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_GRANT_ROLE_RE = re.compile(
    r"^\s*(?P<op>GRANT|REVOKE)\s+(?P<roles>'[\w.-]+'(?:\s*,\s*'[\w.-]+')*)\s+"
    r"(?P<dir>TO|FROM)\s+'(?P<who>[\w.-]+)'(?:@'%')?\s*;?\s*$",
    re.IGNORECASE,
)
_ROW_POLICY_RE = re.compile(
    r"^\s*CREATE\s+ROW\s+POLICY\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s+ON\s+`?(?P<tbl>\w+)`?\s+"
    r"AS\s+(?P<kind>RESTRICTIVE|PERMISSIVE)\s+TO\s+"
    r"(?:(?P<isrole>ROLE\s+)?'(?P<who>[\w.-]+)'(?:@'%')?)\s+"
    r"USING\s*\((?P<expr>.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_ROW_POLICY_RE = re.compile(
    r"^\s*DROP\s+ROW\s+POLICY\s+(?:IF\s+EXISTS\s+)?`?(?P<name>\w+)`?\s+"
    r"ON\s+`?(?P<tbl>\w+)`?(?:\s+FOR\s+.+?)?\s*;?\s*$",
    re.IGNORECASE,
)

_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+SNAPSHOT\s+`?(?P<label>\w+)`?\s+FROM\s+`?(?P<repo>\w+)`?\s+"
    r"ON\s*\(\s*(?P<tables>[`\w,\s]+?(?:\s+AS\s+[`\w]+)?(?:\s*,\s*[`\w]+"
    r"(?:\s+AS\s+[`\w]+)?)*)\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_SNAPSHOT_RE = re.compile(
    r"^\s*SHOW\s+SNAPSHOT\s+ON\s+`?(?P<repo>\w+)`?\s*;?\s*$", re.IGNORECASE
)

_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+`?(?P<mv>\w+)`?\s+AS\s+(?P<body>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)

#: Doris 2.1 ASYNC materialized view — distinguished from the sync
#: (rollup) spelling by the BUILD/REFRESH clauses between name and AS
_CREATE_ASYNC_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+`?(?P<mv>\w+)`?\s+"
    r"(?:BUILD\s+(?P<build>IMMEDIATE|DEFERRED)\s+)?"
    r"REFRESH\s+(?P<mode>AUTO|COMPLETE)\s*"
    r"(?:ON\s+(?P<on>MANUAL|COMMIT)\s*)?"
    r"AS\s+(?P<body>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)

_OUTFILE_RE = re.compile(
    r"^(?P<body>\s*SELECT\s+.+?)\s+INTO\s+OUTFILE\s+'(?P<path>[^']+)'"
    r"(?:\s+FORMAT\s+AS\s+(?P<fmt>\w+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: Doris CREATE ALIAS FUNCTION ([docs: sql-statements
#: CREATE-FUNCTION]): a SQL macro — name(params) expands to the body
#: with arguments substituted, before translation
_CREATE_ALIAS_FN_RE = re.compile(
    # types allows one level of nested parens so parameterized types
    # like DECIMAL(10,2) match (ADVICE r10)
    r"^\s*CREATE\s+(?:GLOBAL\s+)?ALIAS\s+FUNCTION\s+`?(?P<name>\w+)`?\s*"
    r"\((?P<types>(?:[^()]|\([^)]*\))*)\)\s+WITH\s+PARAMETER\s*"
    r"\((?P<params>[^)]*)\)\s+"
    r"AS\s+(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_FN_RE = re.compile(
    r"^\s*DROP\s+(?:GLOBAL\s+)?FUNCTION\s+(?:IF\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s*(?:\([^)]*\))?\s*;?\s*$",
    re.IGNORECASE,
)

_SHOW_FN_RE = re.compile(
    r"^\s*SHOW\s+(?:FULL\s+)?(?:GLOBAL\s+)?FUNCTIONS\s*;?\s*$",
    re.IGNORECASE,
)

_CREATE_VIEW_RE = re.compile(
    r"^\s*(?:CREATE|ALTER)\s+VIEW\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s+AS\s+(?P<body>SELECT\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(?P<ife>IF\s+EXISTS\s+)?`?(?P<name>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_ADD_ROLLUP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(?P<name>\w+)`?\s+ADD\s+ROLLUP\s+"
    r"`?(?P<r>\w+)`?\s*\((?P<cols>[^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)

_SET_VAR_RE = re.compile(
    r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+|@@(?:session\.|global\.)?)?"
    r"(?P<name>\w+)\s*=\s*"
    r"(?P<val>'[^']*'|\"[^\"]*\"|\S+)\s*;?\s*$",
    re.IGNORECASE,
)

_SHOW_VARS_RE = re.compile(
    r"^\s*SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES"
    r"(?:\s+LIKE\s+'(?P<pat>[^']*)')?\s*;?\s*$",
    re.IGNORECASE,
)

_CREATE_IDX_RE = re.compile(
    r"^\s*CREATE\s+INDEX\s+`?(?P<idx>\w+)`?\s+ON\s+`?(?P<name>\w+)`?\s*"
    r"\(\s*`?(?P<col>\w+)`?\s*\)\s+USING\s+"
    r"(?P<kind>INVERTED|NGRAM_BF|BITMAP)"
    r"(?:\s+PROPERTIES\s*\(\s*(?P<props>[^)]*)\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)

_DROP_IDX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+`?(?P<idx>\w+)`?\s+ON\s+`?(?P<name>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

_SHOW_IDX_RE = re.compile(
    r"^\s*SHOW\s+INDEX(?:ES)?\s+FROM\s+`?(?P<name>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)

#: one infix MATCH predicate: `col` MATCH_X 'terms'
_MATCH_PRED_RE = re.compile(
    r"`?(?P<col>\w+)`?\s+(?P<op>MATCH_ANY|MATCH_ALL|MATCH_PHRASE|MATCH)\s+"
    r"(?P<q>'[^']*'|\"[^\"]*\")",
    re.IGNORECASE,
)

_FROM_TBL_RE = re.compile(r"\bFROM\s+`?(\w+)`?", re.IGNORECASE)

#: single-quoted LIKE pattern over a bare column (NGRAM_BF route)
_LIKE_PRED_RE = re.compile(
    r"`?(?P<col>\w+)`?\s+LIKE\s+'(?P<pat>[^']*)'", re.IGNORECASE
)

#: equality against a quoted-string or numeric literal (BITMAP route);
#: the string form consumes doubled '' escapes so a literal containing
#: a quote can never be truncated mid-splice
_EQ_PRED_RE = re.compile(
    r"`?(?P<col>\w+)`?\s*=\s*(?P<lit>'[^']*(?:''[^']*)*'|\"[^\"]*\"|-?\d+)"
)

#: Doris TABLESAMPLE ([docs: SELECT]) — `FROM t TABLESAMPLE(n PERCENT |
#: n ROWS) [REPEATABLE(seed)]`
_TABLESAMPLE_RE = re.compile(
    r"\bFROM\s+`?(?P<name>\w+)`?"
    r"(?:\s+(?:AS\s+)?(?P<alias>(?!TABLESAMPLE\b)\w+))?"
    r"\s+TABLESAMPLE\s*\(\s*(?P<num>\d+(?:\.\d+)?)\s+"
    r"(?P<unit>PERCENT|ROWS)\s*\)"
    r"(?:\s+REPEATABLE\s*\(\s*(?P<seed>\d+)\s*\))?",
    re.IGNORECASE,
)

_USE_RE = re.compile(r"^\s*USE\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE)
#: Doris RECOVER TABLE — un-drop from the catalog recycle bin
_RECOVER_RE = re.compile(
    r"^\s*RECOVER\s+TABLE\s+`?(?P<name>\w+)`?\s*;?\s*$", re.IGNORECASE
)
_SHOW_RECYCLE_RE = re.compile(
    r"^\s*SHOW\s+CATALOG\s+RECYCLE\s+BIN\s*;?\s*$", re.IGNORECASE
)
_CREATE_LIKE_RE = re.compile(
    r"CREATE\s+TABLE\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?`?(?P<name>\w+)`?\s+"
    r"LIKE\s+`?(?P<src>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_CATALOG_RE = re.compile(
    r"CREATE\s+CATALOG\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?`?(?P<name>\w+)`?\s+"
    r"PROPERTIES\s*\(\s*(?P<props>.*?)\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CATALOG_RE = re.compile(
    r"DROP\s+CATALOG\s+(?:IF\s+EXISTS\s+)?`?(?P<name>\w+)`?\s*$", re.IGNORECASE
)
_SHOW_CATALOGS_RE = re.compile(r"SHOW\s+CATALOGS\s*$", re.IGNORECASE)
_REFRESH_CATALOG_RE = re.compile(
    r"REFRESH\s+CATALOG\s+`?(?P<name>\w+)`?\s*$", re.IGNORECASE
)
_PROP_KV_RE = re.compile(r"['\"](?P<k>[^'\"]+)['\"]\s*=\s*['\"](?P<v>[^'\"]*)['\"]")

_CREATE_WG_RE = re.compile(
    r"^\s*CREATE\s+WORKLOAD\s+GROUP\s+(?:(?P<ine>IF\s+NOT\s+EXISTS)\s+)?"
    r"`?(?P<name>\w+)`?\s*"
    r"(?:PROPERTIES\s*\(\s*(?P<props>.*?)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_WG_RE = re.compile(
    r"^\s*ALTER\s+WORKLOAD\s+GROUP\s+`?(?P<name>\w+)`?\s+"
    r"PROPERTIES\s*\(\s*(?P<props>.*?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_WG_RE = re.compile(
    r"^\s*DROP\s+WORKLOAD\s+GROUP\s+(?:(?P<ie>IF\s+EXISTS)\s+)?"
    r"`?(?P<name>\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)
#: admission applies to top-level query/DML statements only — DDL and
#: admin statements must stay reachable from a full queue (upstream
#: queues queries, not management commands)
_WG_ADMIT_RE = re.compile(
    r"^\s*(?:SELECT|WITH|INSERT|UPDATE|DELETE)\b", re.IGNORECASE
)


def _schema_parts(schema: str) -> list[str]:
    """Split a Spark DDL schema string on TOP-LEVEL commas only —
    nested array/map/struct type parameters contain commas that a
    naive split(',') would cut through."""
    return [p.strip() for p in _split_top(schema, angle=True) if p.strip()]


def _split_top(s: str, sep: str = ",", angle: bool = False) -> list[str]:
    # angle=True also nests <> — for column-definition lists where
    # ARRAY<...>/MAP<K,V> type parameters contain top-level-looking
    # commas. Never enabled for predicate/VALUES text, where `<` is a
    # comparison operator.
    out, cur, depth, q = [], [], 0, None
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
        elif ch == "(" or (angle and ch == "<"):
            depth += 1
        elif ch == ")" or (angle and ch == ">"):
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


class PaloSession:
    """Doris-SQL-text session over Spark (see module docstring)."""

    def __init__(self, spark: SparkSession, *, location_root: str | None = None,
                 rollups=None, result_cache: bool = False,
                 cache_row_limit: int = 3000, cache_entries: int = 128) -> None:
        self.spark = spark
        from palo_spark.functions import register_sql_udfs

        # COMPRESS/UNCOMPRESS need session UDFs for SQL-text use (every
        # other stdlib name is a token rewrite); idempotent per session
        register_sql_udfs(spark)
        self.location_root = location_root
        self.rollups = rollups  # optional RollupCatalog
        self.tables: dict[str, Table] = {}
        #: state token each table's temp view was last registered at —
        #: the cross-session view-convergence check (see sql())
        self._view_tokens: dict[str, str] = {}
        #: logical views: name -> original Doris-dialect body text
        #: (late-binding temp views; see the CREATE VIEW branch)
        self.views: dict[str, str] = {}
        #: views whose body reads an external-catalog table (directly or
        #: through another such view) — queries touching them bypass the
        #: result cache (see _text_touches_catalog)
        self._catalog_views: set[str] = set()
        #: Doris 2.1 ASYNC materialized views: name -> {body, on, built,
        #: tables, token}. Snapshot semantics — queryable under the MV
        #: name, recomputed by REFRESH MATERIALIZED VIEW (or on base-
        #: table commit for ON COMMIT); `token` bumps per refresh so the
        #: result cache invalidates exactly (see the cache-gate refs).
        self.async_mvs: dict[str, dict] = {}
        #: Doris 2.1 transparent rewrite onto async MVs (Nereids
        #: ``enable_materialized_view_rewrite``): fresh snapshots may
        #: silently answer derivable queries; stale ones never do.
        self.mv_rewrite_enabled = True
        self.last_mv_rewrite: str | None = None  # observability for tests
        #: Doris SQL result cache (SURVEY §4 "Caches" row): SELECT
        #: results keyed by (query text, referenced tables' mutation
        #: tokens). A table mutation changes its token, so stale hits
        #: are impossible by construction — no explicit invalidation.
        #: Only small results are cached (Doris cache_row_limit).
        #: A hit is served on the driver with no Spark job: each entry
        #: is a JVM Dataset over a LocalRelation of at most
        #: cache_row_limit rows; eviction is least-recently-used.
        self.result_cache_enabled = bool(result_cache)
        self.cache_row_limit = int(cache_row_limit)
        self.cache_entries = int(cache_entries)
        self._result_cache: dict = {}  # key -> JVM Dataset (LocalRelation)
        # sql() may run on several threads (workload groups admit
        # concurrent statements); an LRU hit re-inserts its entry
        self._result_cache_lock = _threading.Lock()
        self.last_cache_hit = False  # observability for tests/metrics
        #: storage-side indexes (CREATE INDEX ... USING
        #: INVERTED | NGRAM_BF | BITMAP, plus the `bloom_filter_columns`
        #: table property): index name -> (table, col, posting-dir path,
        #: kind, gram_size). Doris maintains indexes at load time; here
        #: maintenance is LAZY — each indexed query fingerprint-checks
        #: the table's mutation token and rebuilds the postings only if
        #: it changed since the last build. gram_size is 0 for every
        #: kind except NGRAM_BF.
        self.indexes: dict[str, tuple[str, str, str, str, int]] = {}
        self.last_match_indexed = False  # observability for tests
        self.last_like_indexed = False  # NGRAM_BF route observability
        self.last_eq_indexed = False  # BITMAP/bloom route observability
        #: external catalogs (Doris 1.2 multi-catalog lite): name →
        #: {"type", "root", "tables"}. type='parquet_dir' maps every
        #: <root>/<tbl>.parquet to a queryable table addressed as
        #: ``name.tbl`` (Doris ``catalog.db.table`` with the db level
        #: collapsed — the fixture roots have no database tier).
        self.catalogs: dict[str, dict] = {}
        #: routine-load jobs (CREATE ROUTINE LOAD ... FROM KAFKA):
        #: name → {"table", "source", "format", "state", "batches"}.
        #: States follow the upstream FE job FSM: RUNNING ⇄ PAUSED →
        #: STOPPED (terminal).
        self.routine_jobs: dict[str, dict] = {}
        #: Doris 2.1 scheduled insert jobs (CREATE JOB ... DO INSERT):
        #: name -> {kind, interval_s, next_run, ends, do, state, tasks}.
        #: Executed by tick_jobs() — the scheduler loop a deployment
        #: runs on a timer; tests pass an explicit `now` for
        #: deterministic replay.
        self.insert_jobs: dict[str, dict] = {}
        #: backup repositories (CREATE REPOSITORY ... WITH LOCATION —
        #: filesystem-lite stand-in for Doris's broker/S3 repos):
        #: name → directory. Snapshots live at <dir>/<label>/.
        self.repositories: dict[str, str] = {}
        #: privilege / row-policy state ([docs: privilege, row-policy]);
        #: the session starts as root (upstream's bootstrap identity) —
        #: switch with su(). Internal maintenance (MV refresh, job DO
        #: bodies) runs definer-rights via _sql_nocache's exemption.
        from palo_spark.privileges import AccessController

        self.access = AccessController()
        self.current_user = "root"
        self._definer_depth = 0
        #: workload groups ([docs: workload-group]): named admission
        #: gates; the session's active group comes from the
        #: ``workload_group`` session variable (upstream: user property
        #: or session var). 'normal' is the built-in default.
        from palo_spark.workload import WorkloadGroup

        self.workload_groups: dict[str, WorkloadGroup] = {
            "normal": WorkloadGroup("normal")
        }
        self._wg_local = _threading.local()
        # security state persists with the warehouse (the FE-metadata
        # analog): a re-attached session keeps users/grants/policies —
        # a row policy must never silently evaporate on restart
        if location_root:
            acc_path = os.path.join(location_root, "_access.json")
            if os.path.isfile(acc_path):
                with open(acc_path) as f:
                    self.access = AccessController.from_dict(_json.load(f))
            # workload groups persist the same way (upstream: FE
            # metadata) — a re-attached session keeps CREATE WORKLOAD
            # GROUP definitions; admission counters start fresh
            wg_path = os.path.join(location_root, "_workload.json")
            if os.path.isfile(wg_path):
                with open(wg_path) as f:
                    for n, props in _json.load(f).items():
                        self.workload_groups[n] = WorkloadGroup(n, props)
        #: MySQL/Doris session variables (SET x = v / SHOW VARIABLES).
        #: Most are stored-and-reported (Doris FE behavior for unknown
        #: engines); the ones with a real Spark analog take effect:
        #: time_zone → spark.sql.session.timeZone, enable_sql_cache →
        #: the session result cache toggle.
        #: Doris FE metadata durability (r10): a session pointed at an
        #: existing warehouse RE-ATTACHES its tables — every subdirectory
        #: of location_root holding a table meta file (and not marked
        #: dropped; see DROP/RECOVER TABLE) is reopened and registered.
        #: Two live dirs claiming one name resolve to the higher mutation
        #: counter (a restore-beside dir vs its dropped original never
        #: collides: dropped dirs are skipped).
        if location_root and os.path.isdir(location_root):
            from palo_spark.tables import _META_FILE

            for entry in sorted(os.listdir(location_root)):
                d = os.path.join(location_root, entry)
                if not os.path.isfile(os.path.join(d, _META_FILE)):
                    continue
                try:
                    t = Table.open(spark, d)
                except (OSError, TypeError, ValueError):
                    continue  # foreign or half-written dir — not ours
                if t.meta.dropped:
                    continue
                nm = t.meta.name.lower()
                prev = self.tables.get(nm)
                if prev is not None and prev.meta.mutations >= t.meta.mutations:
                    continue
                self.tables[nm] = t
            for nm in self.tables:
                self._refresh_view(nm)
        #: CREATE ALIAS FUNCTION macros: name -> (params, body text)
        self.alias_functions: dict[str, tuple[list[str], str]] = {}
        # Doris hash/digest functions that need a Python kernel at the
        # SQL surface (seed-0 murmur/xxhash, SM3) — idempotent
        from palo_spark.functions import register_doris_hash_udfs

        register_doris_hash_udfs(spark)
        #: SHOW BACKUP / SHOW RESTORE job history (label, repo) — jobs
        #: run synchronously here, so every recorded row is FINISHED
        self._backup_history: list[tuple[str, str]] = []
        self._restore_history: list[tuple[str, str]] = []
        self.variables: dict[str, str] = {
            "sql_mode": "",
            "time_zone": spark.conf.get("spark.sql.session.timeZone"),
            # mysql-client handshake variables (read via SELECT @@name)
            "version_comment": "palo_spark",
            "autocommit": "1",
            "max_allowed_packet": "16777216",
            "character_set_client": "utf8mb4",
            "character_set_results": "utf8mb4",
            "collation_connection": "utf8mb4_0900_bin",
            "tx_isolation": "REPEATABLE-READ",
            "transaction_isolation": "REPEATABLE-READ",
            "wait_timeout": "28800",
            "interactive_timeout": "28800",
            "lower_case_table_names": "0",
            "net_write_timeout": "60",
            "exec_mem_limit": "2147483648",
            "query_timeout": "300",
            "enable_sql_cache": "true" if result_cache else "false",
            "enable_materialized_view_rewrite": "true",
            "parallel_pipeline_task_num": str(
                spark.sparkContext.defaultParallelism
            ),
        }

    # ------------------------------------------------------------- DDL

    def _parse_column(self, text: str) -> tuple[str, str, str | None, str]:
        """One column def → (name, spark_type, agg_fn|None, doris_base_type).

        Doris form: ``name TYPE [agg_fn] [NULL|NOT NULL] [COMMENT '...']``.
        """
        m = re.match(
            r"`?(?P<name>\w+)`?\s+"
            r"(?P<type>\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\)|\s*<.+>)?)"
            r"(?P<rest>.*)$",
            text.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"unparsable column definition: {text!r}")
        name = m.group("name")
        typ = m.group("type").lower()
        base = re.split(r"[(<]", typ)[0].strip()
        if base in ("array", "map", "struct"):
            # Doris 2.x nested types ([docs: data-types ARRAY/MAP/
            # STRUCT]): translate the element types recursively —
            # `ARRAY<INT>` → `array<int>`, `MAP<VARCHAR(10), BIGINT>`
            # → `map<string,bigint>`; the greedy `<.+>` above may have
            # swallowed trailing clauses, so re-balance on the angle
            # brackets first
            depth, end = 0, -1
            for i, ch in enumerate(typ):
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
            if end < 0:
                raise ValueError(f"unbalanced type parameters: {typ!r}")
            rest_extra = m.group("type")[end + 1:]
            inner = typ[typ.index("<") + 1: end]
            spark_type = f"{base}<" + ",".join(
                self._translate_nested_type(p)
                for p in _split_top(inner, angle=True)
            ) + ">"
            m_rest = rest_extra + (m.group("rest") or "")
            rest = m_rest
            agg = None
            first = rest.strip().split(None, 1)[0].upper() if rest.strip() else ""
            if first in AGG_TYPES:
                agg = first
            return name, spark_type, agg, base
        if base == "decimal":
            spark_type = typ  # decimal(p,s) passes through
        elif base in _DDL_TYPES:
            spark_type = _DDL_TYPES[base]
        else:
            raise ValueError(f"unsupported Doris column type {typ!r}")
        rest = m.group("rest") or ""
        agg = None
        first = rest.strip().split(None, 1)[0].upper() if rest.strip() else ""
        if first in AGG_TYPES:
            agg = first
        return name, spark_type, agg, base

    def _translate_nested_type(self, typ: str) -> str:
        """One type inside ARRAY<>/MAP<>/STRUCT<> → Spark DDL type.
        Struct fields arrive as ``name:TYPE``."""
        typ = typ.strip()
        if ":" in typ.split("<", 1)[0]:
            fname, ftyp = typ.split(":", 1)
            return f"{fname.strip()}:{self._translate_nested_type(ftyp)}"
        low = typ.lower()
        base = re.split(r"[(<]", low)[0].strip()
        if base in ("array", "map", "struct"):
            inner = typ[typ.index("<") + 1: typ.rindex(">")]
            return f"{base}<" + ",".join(
                self._translate_nested_type(p)
                for p in _split_top(inner, angle=True)
            ) + ">"
        if base == "decimal":
            return low
        if base in _DDL_TYPES:
            return _DDL_TYPES[base]
        raise ValueError(f"unsupported nested column type {typ!r}")

    def _create_table(self, text: str) -> Table:
        hm = _CREATE_HEAD_RE.match(text)
        if not hm:
            raise ValueError(f"unparsable CREATE TABLE head: {text!r}")
        name = hm.group("name")
        if name.lower() in self.async_mvs:
            # creating a table under a live async MV's name would
            # silently shadow the MV's snapshot view — and the next
            # REFRESH would shadow the table right back (r9 audit)
            raise ValueError(
                f"name {name!r} is taken by an async materialized view"
            )
        if name.lower() in self.tables:
            # Doris semantics: re-creating a live table is an error
            # unless IF NOT EXISTS (which returns the existing one).
            # Matters since r10 session re-attach: a restarted session
            # SEES the previous session's tables
            if hm.group("ine"):
                return self.tables[name.lower()]
            raise ValueError(f"table {name.lower()!r} already exists")
        open_i = hm.end() - 1
        close_i = _balanced_span(text, open_i)
        cols_text = text[open_i + 1 : close_i - 1]
        tail = text[close_i:]
        # classic STATIC range partitioning is cut out of the tail
        # before the tail regex (its partition list nests parentheses):
        # PARTITION BY RANGE(`col`) (PARTITION p VALUES LESS THAN (...))
        range_parts = None
        sp = re.search(
            r"(?i)(?<![A-Z])(AUTO\s+)?PARTITION\s+BY\s+(RANGE|LIST)\s*\(",
            tail,
        )
        if sp and not sp.group(1) and "date_trunc" not in tail[
            sp.end() - 1 : _balanced_span(tail, sp.end() - 1)
        ].lower():
            kind = sp.group(2).upper()
            colspan_end = _balanced_span(tail, sp.end() - 1)
            rcol = tail[sp.end() : colspan_end - 1].strip().strip("`")
            list_open = tail.index("(", colspan_end)
            list_end = _balanced_span(tail, list_open)
            plist = tail[list_open + 1 : list_end - 1]
            if kind == "RANGE":
                items = re.findall(
                    r"(?i)PARTITION\s+`?([A-Za-z]\w*)`?\s+VALUES\s+LESS\s+"
                    r"THAN\s*\(\s*(MAXVALUE|'[^']*'|-?\d+(?:\.\d+)?)\s*\)",
                    plist,
                )
                if not items:
                    raise ValueError(
                        "unparsable PARTITION BY RANGE list (expected "
                        "PARTITION name VALUES LESS THAN ('lit'|MAXVALUE))"
                    )
                range_parts = {
                    "col": rcol,
                    "parts": [
                        {"name": nm,
                         "upper": None if up.upper() == "MAXVALUE" else up}
                        for nm, up in items
                    ],
                }
            else:
                items = re.findall(
                    r"(?i)PARTITION\s+`?([A-Za-z]\w*)`?\s+VALUES\s+IN"
                    r"\s*\(\s*([^)]*?)\s*\)",
                    plist,
                )
                if not items:
                    raise ValueError(
                        "unparsable PARTITION BY LIST (expected "
                        "PARTITION name VALUES IN ('a', 'b', ...))"
                    )
                range_parts = {
                    "col": rcol,
                    "kind": "list",
                    "parts": [
                        {"name": nm,
                         "values": [v.strip() for v in vals.split(",")]}
                        for nm, vals in items
                    ],
                }
            tail = tail[: sp.start()] + tail[list_end:]
        m = _CREATE_TAIL_RE.match(tail)
        if not m:
            raise ValueError(
                "unparsable CREATE TABLE tail (supported: "
                "AGGREGATE/UNIQUE/DUPLICATE KEY, DISTRIBUTED BY HASH ... "
                f"BUCKETS n, PROPERTIES): {tail!r}"
            )
        model = (m.group("model") or "DUPLICATE").upper()
        cols = [
            self._parse_column(c) for c in _split_top(cols_text, angle=True)
        ]
        if m.group("keys"):
            key_cols = [k.strip().strip("`") for k in m.group("keys").split(",")]
        else:
            key_cols = [cols[0][0]]
        agg_spec = {n: a for n, _, a, _ in cols if a}
        sequence_col = None
        props = m.group("props") or ""
        pm = re.search(r"['\"]function_column\.sequence_col['\"]\s*=\s*['\"](\w+)['\"]", props)
        if pm:
            sequence_col = pm.group(1)
        kw: dict = {}
        if self.location_root:
            kw["location"] = f"{self.location_root}/{name}"
        if m.group("pcol"):
            kw["auto_partition"] = (m.group("pcol"), m.group("pgran").lower())
        elif m.group("lcol"):
            # Doris 2.1 AUTO PARTITION BY LIST(col): one partition per
            # distinct value
            kw["auto_partition"] = (m.group("lcol"), "list")
        if range_parts is not None:
            kw["range_partitions"] = range_parts
        # Doris dynamic partition ([docs: dynamic-partition]): the
        # retention half maps onto partition expiry at load —
        # `dynamic_partition.start = -N` keeps the N newest partitions.
        # The pre-creation half (`.end` — empty FUTURE partitions) is a
        # physical no-op here: auto-partition creates directories at
        # first write, so an empty pre-created partition has no storage
        # to reserve.
        if re.search(
            r"['\"]dynamic_partition\.enable['\"]\s*=\s*['\"]true['\"]",
            props, re.IGNORECASE,
        ):
            if not m.group("pcol"):
                raise ValueError(
                    "dynamic_partition properties require a partitioned "
                    "table (AUTO PARTITION BY RANGE)"
                )
            du = re.search(
                r"['\"]dynamic_partition\.time_unit['\"]\s*=\s*"
                r"['\"](\w+)['\"]", props, re.IGNORECASE,
            )
            if du and du.group(1).lower() != m.group("pgran").lower():
                raise ValueError(
                    f"dynamic_partition.time_unit {du.group(1)!r} does not "
                    f"match the partition granularity {m.group('pgran')!r}"
                )
            ds = re.search(
                r"['\"]dynamic_partition\.start['\"]\s*=\s*"
                r"['\"]\s*-?(\d+)\s*['\"]", props,
            )
            if ds:
                kw["dynamic_partition_retention"] = int(ds.group(1))
        if m.group("dist"):
            kw["dist_cols"] = [
                c.strip().strip("`") for c in m.group("dist").split(",")
            ]
            kw["buckets"] = int(m.group("buckets") or 8)
        t = Table(
            self.spark,
            name,
            keys_type=model,
            key_cols=key_cols,
            agg_spec=agg_spec or None,
            sequence_col=sequence_col,
            **kw,
        )
        # remember the declared schema so VALUES inserts can be typed
        t._declared_schema = ", ".join(f"{n} {st}" for n, st, _, _ in cols)  # type: ignore[attr-defined]
        # VARIANT/JSON columns get `col['key']` subscript rewriting
        t._variant_cols = {  # type: ignore[attr-defined]
            n.lower() for n, _, _, base in cols
            if base in ("variant", "json", "jsonb")
        }
        self.tables[name.lower()] = t
        # a freshly created table is queryable as empty (Doris behavior)
        self._refresh_view(name.lower())
        # bloom_filter_columns ([docs: bloomfilter]): per-column value
        # indexes, maintained lazily like CREATE INDEX ... USING BITMAP
        # (the posting-bucket layout plays the bloom filter's role —
        # see operators/text_index.py). Registration only; the first
        # indexed equality query builds the postings.
        bfm = re.search(
            r"['\"]bloom_filter_columns['\"]\s*=\s*['\"]([^'\"]*)['\"]",
            props,
        )
        if bfm:
            by_name = {n.lower(): base for n, _, _, base in cols}
            ok_types = (
                "string", "varchar", "char", "text", "tinyint", "smallint",
                "int", "integer", "bigint", "largeint", "date", "datetime",
                "decimal", "boolean",
            )
            root = self.location_root or _tf.gettempdir()
            for c in [x.strip().strip("`") for x in bfm.group(1).split(",")]:
                if not c:
                    continue
                base = by_name.get(c.lower())
                if base is None:
                    raise ValueError(
                        f"bloom_filter_columns: unknown column {c!r}"
                    )
                if base not in ok_types:
                    raise ValueError(
                        f"bloom_filter_columns unsupported on {c!r} "
                        f"type {base!r}"
                    )
                path = f"{root}/_palo_inverted/{name.lower()}__{c}__bf"
                self.indexes[f"__bf_{name.lower()}_{c}"] = (
                    name.lower(), c, path, "BITMAP", 0
                )
        return t

    def _create_table_like(
        self, name: str, src: str, if_not_exists: bool
    ) -> Table | None:
        """Doris ``CREATE TABLE x LIKE y``: a new EMPTY table with the
        source's full layout — key model, key columns, aggregate spec,
        sequence column, auto-partitioning, and hash distribution — but
        none of its data or rowset history. [docs: sql-statements
        CREATE-TABLE-LIKE]"""
        if name.lower() in self.tables:
            if if_not_exists:
                return None
            raise ValueError(f"table {name!r} already exists")
        if name.lower() in self.async_mvs:
            raise ValueError(
                f"name {name!r} is taken by an async materialized view"
            )
        t = self._table(src)
        kw: dict = {}
        if self.location_root:
            kw["location"] = f"{self.location_root}/{name}"
        if t.meta.auto_partition:
            ap = t.meta.auto_partition
            kw["auto_partition"] = (ap["col"], ap["granularity"])
        if t.meta.range_partitions:
            import copy as _copy

            kw["range_partitions"] = _copy.deepcopy(t.meta.range_partitions)
        if t.meta.dist_cols:
            kw["dist_cols"] = list(t.meta.dist_cols)
            kw["buckets"] = t.meta.buckets
        if t.meta.partition_by:
            # the static partition layout is part of LIKE's contract —
            # without it the clone would (a) lay rowsets out flat and
            # (b) wrongly pass the partial-column eligibility check,
            # which refuses partitioned tables
            kw["partition_by"] = list(t.meta.partition_by)
        new = Table(
            self.spark,
            name,
            keys_type=t.meta.keys_type,
            key_cols=list(t.meta.key_cols),
            agg_spec=dict(t.meta.agg_spec) or None,
            sequence_col=t.meta.sequence_col,
            **kw,
        )
        # columns added by light schema change are part of the source's
        # CURRENT schema, so the clone declares them too (defaults and
        # agg type included). "since" boundaries are dropped: they gate
        # against the SOURCE's version history, which the clone does not
        # inherit — on the clone every add applies from the beginning.
        for a in t.meta.schema_adds:
            if a["col"] in t.meta.schema_drops:
                continue
            new.add_column(
                a["col"], a["type"], default=a.get("default"),
                agg=t.meta.agg_spec.get(a["col"]),
            )
        schema = getattr(t, "_declared_schema", None)
        if schema is not None:
            new._declared_schema = schema  # type: ignore[attr-defined]
        new._variant_cols = set(getattr(t, "_variant_cols", ()))  # type: ignore[attr-defined]
        self.tables[name.lower()] = new
        self._refresh_view(name.lower())  # queryable as empty immediately
        return new

    # -------------------------------------------------- backup / restore

    # ------------------------------------------------- privileges / ACL

    def su(self, user: str) -> None:
        """Switch the session identity ([docs: privilege]) — the
        embedded analog of reconnecting with the mysql client as
        another user. Anyone may switch in this single-process sandbox
        (there is no wire handshake to authenticate against); what the
        new identity can DO is decided per-statement by the grants."""
        user = user.lower()
        if user not in self.access.users:
            raise ValueError(f"unknown user {user!r}")
        self.current_user = user

    @staticmethod
    def _priv_scope(scope_text: str) -> str:
        """Normalize a Doris grant scope (``ctl.db.tbl`` / ``db.*`` /
        ``*.*.*`` / bare table) onto this session's flat namespace:
        the last component if it names a table, else the global '*'."""
        last = scope_text.replace("`", "").split(".")[-1].strip().lower()
        return "*" if last in ("", "*") else last

    def _save_access(self) -> None:
        """Persist the authorization state beside the tables (atomic
        replace, same durability contract as table meta). No-op for
        warehouse-less throwaway sessions."""
        if not self.location_root:
            return
        import uuid as _uuid2

        path = os.path.join(self.location_root, "_access.json")
        tmp = f"{path}.{_uuid2.uuid4().hex}"
        with open(tmp, "w") as f:
            _json.dump(self.access.to_dict(), f)
        os.replace(tmp, path)

    def _save_workload(self) -> None:
        """Persist workload-group definitions beside the table meta
        (upstream: FE metadata — a group survives FE restart). Atomic
        replace, same contract as ``_save_access``; no-op for
        warehouse-less throwaway sessions. Runtime admission counters
        are NOT state — only the validated properties travel."""
        if not self.location_root:
            return
        import uuid as _uuid2

        path = os.path.join(self.location_root, "_workload.json")
        tmp = f"{path}.{_uuid2.uuid4().hex}"
        with open(tmp, "w") as f:
            _json.dump(
                {n: g.props for n, g in self.workload_groups.items()}, f
            )
        os.replace(tmp, path)

    def _try_workload_group_stmt(self, stripped: str, up: str):
        """CREATE / ALTER / DROP WORKLOAD GROUP + SHOW WORKLOAD GROUPS
        ([docs: workload-group]). Returns NotImplemented when the text
        is not a workload-group statement (caller continues dispatch)."""
        from palo_spark.workload import WorkloadGroup

        m = _CREATE_WG_RE.match(stripped)
        if m:
            name = m.group("name").lower()
            if name in self.workload_groups:
                if m.group("ine"):
                    return None
                raise ValueError(f"workload group {name!r} already exists")
            props = {
                kv.group("k").lower(): kv.group("v")
                for kv in _PROP_KV_RE.finditer(m.group("props") or "")
            }
            self.workload_groups[name] = WorkloadGroup(name, props)
            self._save_workload()
            return None
        m = _ALTER_WG_RE.match(stripped)
        if m:
            name = m.group("name").lower()
            g = self.workload_groups.get(name)
            if g is None:
                raise ValueError(f"unknown workload group {name!r}")
            g.update({
                kv.group("k").lower(): kv.group("v")
                for kv in _PROP_KV_RE.finditer(m.group("props"))
            })
            self._save_workload()
            return None
        m = _DROP_WG_RE.match(stripped)
        if m:
            name = m.group("name").lower()
            if name == "normal":
                raise ValueError(
                    "cannot drop the built-in workload group 'normal'"
                )
            if name not in self.workload_groups:
                if m.group("ie"):
                    return None
                raise ValueError(f"unknown workload group {name!r}")
            if self.variables.get("workload_group", "normal") == name:
                raise ValueError(
                    f"workload group {name!r} is the session's active "
                    "group — SET workload_group to another group first"
                )
            del self.workload_groups[name]
            self._save_workload()
            return None
        if re.match(r"^\s*SHOW\s+WORKLOAD\s+GROUPS\s*;?\s*$", stripped,
                    re.IGNORECASE):
            return self.spark.createDataFrame(
                [g.show_row() for _, g in sorted(self.workload_groups.items())],
                "Name string, cpu_share string, memory_limit string, "
                "max_concurrency string, max_queue_size string, "
                "queue_timeout string, running_query_num int, "
                "waiting_query_num int",
            )
        return NotImplemented

    def _try_privilege_stmt(self, stripped: str, up: str):
        """Dispatch the privilege/ACL statement family; returns
        (handled, result). Every mutating branch persists the state
        (see _save_access)."""
        handled, res = self._try_privilege_stmt_inner(stripped, up)
        if handled:
            self._save_access()
        return handled, res

    def _try_privilege_stmt_inner(self, stripped: str, up: str):
        from palo_spark.privileges import ALL_PRIVS, PRIVS, RowPolicy

        m = _CREATE_USER_RE.match(stripped)
        if m:
            if "IF NOT EXISTS" in up and m.group("name").lower() in self.access.users:
                return True, None
            self.access.create_user(m.group("name"), m.group("role"))
            return True, None
        m = _DROP_USER_RE.match(stripped)
        if m:
            nm = m.group("name").lower()
            if nm == self.current_user and nm != "root":
                # r12 audit: falling back to root here let any
                # GRANT_PRIV holder self-drop INTO the superuser —
                # refuse instead (upstream: dropping the connected
                # identity does not re-authenticate the connection).
                # root falls through to drop_user's own refusal.
                raise ValueError(
                    "cannot drop the current session identity — "
                    "su() to another user first"
                )
            self.access.drop_user(nm)
            return True, None
        m = _CREATE_ROLE_RE.match(stripped)
        if m and up.lstrip().startswith("CREATE ROLE"):
            if "IF NOT EXISTS" in up and m.group("name").lower() in self.access.roles:
                return True, None
            self.access.create_role(m.group("name"))
            return True, None
        m = _DROP_ROLE_RE.match(stripped)
        if m and up.lstrip().startswith("DROP ROLE"):
            self.access.drop_role(m.group("name"))
            return True, None
        m = _ROW_POLICY_RE.match(stripped)
        if m:
            self.access.add_policy(RowPolicy(
                name=m.group("name").lower(),
                table=m.group("tbl").lower(),
                kind=m.group("kind").upper(),
                to_kind="role" if m.group("isrole") else "user",
                to_name=m.group("who").lower(),
                expr=m.group("expr").strip(),
            ))
            return True, None
        m = _DROP_ROW_POLICY_RE.match(stripped)
        if m and "ROW POLICY" in up:
            try:
                self.access.drop_policy(
                    m.group("name").lower(), m.group("tbl").lower()
                )
            except ValueError:
                if "IF EXISTS" not in up:
                    raise
            return True, None
        m = _GRANT_ROLE_RE.match(stripped)
        if m:
            op = m.group("op").upper()
            if (op == "GRANT") != (m.group("dir").upper() == "TO"):
                raise ValueError(f"{op} roles uses {'TO' if op == 'GRANT' else 'FROM'}")
            for r in re.findall(r"'([\w.-]+)'", m.group("roles")):
                if op == "GRANT":
                    self.access.grant_role(r, m.group("who"))
                else:
                    self.access.revoke_role(r, m.group("who"))
            return True, None
        m = _GRANT_PRIV_RE.match(stripped)
        if m:
            op = m.group("op").upper()
            if (op == "GRANT") != (m.group("dir").upper() == "TO"):
                raise ValueError(f"{op} uses {'TO' if op == 'GRANT' else 'FROM'}")
            privs: set[str] = set()
            for p in m.group("privs").split(","):
                p = p.strip().upper()
                if p == "ALL":
                    privs |= set(ALL_PRIVS)
                    continue
                if not p.endswith("_PRIV"):
                    p += "_PRIV"
                if p not in PRIVS:
                    raise ValueError(f"unknown privilege {p!r}")
                privs.add(p)
            scope = self._priv_scope(m.group("scope"))
            kind = "role" if m.group("isrole") else "user"
            if op == "GRANT":
                self.access.grant(privs, scope, kind, m.group("who"))
            else:
                self.access.revoke(privs, scope, kind, m.group("who"))
            return True, None
        return False, None

    #: statement-family → required privilege ([docs: privilege] — the
    #: FE's PrivPredicate mapping, collapsed to this engine's surface).
    #: Families absent here are handled structurally: queries check
    #: SELECT_PRIV per reached table, SHOW/DESC/SET/USE/REFRESH are
    #: metadata-safe, privilege DDL checks GRANT_PRIV.
    _PRIV_BY_KEYWORD = {
        "INSERT": "LOAD_PRIV", "UPDATE": "LOAD_PRIV",
        "DELETE": "LOAD_PRIV", "TRUNCATE": "LOAD_PRIV",
        "LOAD": "LOAD_PRIV", "PAUSE": "LOAD_PRIV",
        "RESUME": "LOAD_PRIV", "STOP": "LOAD_PRIV",
        "CREATE": "CREATE_PRIV", "DROP": "DROP_PRIV",
        "RECOVER": "DROP_PRIV", "ALTER": "ALTER_PRIV",
        "BACKUP": "ADMIN_PRIV", "RESTORE": "ADMIN_PRIV",
        "GRANT": "GRANT_PRIV", "REVOKE": "GRANT_PRIV",
    }

    #: second-keyword targets whose name follows for table-scoped checks
    _PRIV_TARGET_RE = re.compile(
        r"^\s*(?:INSERT\s+(?:OVERWRITE\s+)?(?:INTO\s+)?(?:TABLE\s+)?"
        r"|UPDATE\s+|DELETE\s+FROM\s+|TRUNCATE\s+TABLE\s+"
        r"|ALTER\s+TABLE\s+|DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?)"
        r"`?(?P<name>\w+)`?",
        re.IGNORECASE,
    )

    def _enforce_privileges(self, stripped: str, up: str) -> None:
        """Per-statement authorization for non-root identities
        ([docs: privilege]): queries need SELECT_PRIV on every session
        table the text reaches (views expand to their bases — a view
        cannot launder access); mutations need LOAD_PRIV on the target;
        DDL families map per _PRIV_BY_KEYWORD, checked table-scoped
        when the target parses, global otherwise. Raises
        PermissionError — loud, never a silent empty result."""
        if self.access.is_superuser(self.current_user):
            return
        kw = up.split(None, 1)[0] if up.split() else ""
        if kw in ("SELECT", "WITH", "VALUES", "DESC", "DESCRIBE",
                  "EXPLAIN", "SHOW", "SET", "USE", "REFRESH", "HELP"):
            reached, _ = self._expand_view_refs(stripped)
            # an async MV cannot launder access either: reading its
            # snapshot requires SELECT on the bases its body reaches
            # (invoker-rights — upstream gates the MV itself; this
            # engine's grants are table-scoped, so the bases ARE the
            # grant surface). _mv_reach walks VIEW bodies and nested
            # MV bodies too — a view over an MV must not hide the MV
            # from the check (r12 audit: ungranted-read repro)
            for body in self._mv_reach(stripped).values():
                reached |= self._expand_view_refs(body)[0]
            for t in sorted(reached):
                if not self.access.has_priv(
                    self.current_user, "SELECT_PRIV", t
                ):
                    raise PermissionError(
                        f"user {self.current_user!r} lacks SELECT_PRIV "
                        f"on table {t!r}"
                    )
            return
        if "ROW POLICY" in up or kw in ("GRANT", "REVOKE") or re.match(
            r"^(?:CREATE|DROP)\s+(?:USER|ROLE)\b", up
        ):
            if not self.access.has_priv(self.current_user, "GRANT_PRIV"):
                raise PermissionError(
                    f"user {self.current_user!r} lacks GRANT_PRIV"
                )
            return
        if "WORKLOAD GROUP" in up:
            # upstream gates workload-group DDL behind ADMIN_PRIV
            # ([docs: workload-group]) — table-level CREATE/DROP grants
            # must not reach the cluster admission policy
            if not self.access.has_priv(self.current_user, "ADMIN_PRIV"):
                raise PermissionError(
                    f"user {self.current_user!r} lacks ADMIN_PRIV "
                    "(workload-group DDL is an admin operation)"
                )
            return
        need = self._PRIV_BY_KEYWORD.get(kw)
        if need is None:
            raise PermissionError(
                f"user {self.current_user!r} is not authorized for "
                f"{kw or stripped[:20]!r} statements (ADMIN_PRIV required)"
            )
        tm = self._PRIV_TARGET_RE.match(stripped)
        target = tm.group("name").lower() if tm else None
        if not self.access.has_priv(self.current_user, need, target):
            where = f" on table {target!r}" if target else ""
            raise PermissionError(
                f"user {self.current_user!r} lacks {need}{where}"
            )
        # a mutation's embedded reads (INSERT ... SELECT, UPDATE FROM,
        # DELETE USING) still need SELECT on the OTHER tables reached
        reached, _ = self._expand_view_refs(stripped)
        for t in sorted(reached - {target}):
            if not self.access.has_priv(self.current_user, "SELECT_PRIV", t):
                raise PermissionError(
                    f"user {self.current_user!r} lacks SELECT_PRIV on "
                    f"table {t!r}"
                )

    def _mv_reach(self, text: str) -> dict[str, str]:
        """Async MVs the statement text reaches — named directly, through
        a chain of session views, or through OTHER MV bodies (an MV body
        may read a sibling MV). Returns ``{mv_name: body}`` in discovery
        order; the fixpoint also walks view bodies so a view over an MV
        cannot hide it."""
        if not self.async_mvs:
            return {}
        found: dict[str, str] = {}
        scanned_views: set[str] = set()
        frontier = [text]
        while frontier:
            t = frontier.pop()
            for mvn, mv in self.async_mvs.items():
                if mvn not in found and re.search(
                    rf"\b{re.escape(mvn)}\b", t, re.IGNORECASE
                ):
                    found[mvn] = mv["body"]
                    frontier.append(mv["body"])
            for v, body in self.views.items():
                if v not in scanned_views and re.search(
                    rf"\b{re.escape(v)}\b", t, re.IGNORECASE
                ):
                    scanned_views.add(v)
                    frontier.append(body)
        return found

    def _applicable_policies(self, text: str) -> dict[str, str]:
        """Row-policy predicates for the current user over every session
        table the statement reaches (transitively through views — a
        view cannot launder policy rows — AND through async-MV bodies:
        an MV snapshot holds UNFILTERED rows derived from its bases, so
        a statement naming the MV "reaches" those bases for policy
        purposes; r12 audit, direct-MV-read laundering repro). Empty
        for exempt users."""
        if not self.access.policies or self.access.is_superuser(
            self.current_user
        ):
            return {}
        reached, _ = self._expand_view_refs(text)
        for body in self._mv_reach(text).values():
            reached |= self._expand_view_refs(body)[0]
        out = {}
        for t in sorted(reached):
            f = self.access.policy_filter(self.current_user, t)
            if f is not None:
                out[t] = f
        return out

    def _run_with_row_policies(self, stripped: str, pol: dict[str, str]):
        """Execute a query with each policied table's temp view swapped
        for its filtered projection (views re-resolve against temp
        views at query time, so the filter flows through session views
        too), then restore. Result caching, transparent MV rewrite,
        and rollup answering are bypassed — their stores hold
        UNFILTERED data, and a policy user must never see it. Filtered
        dfs are all built BEFORE any swap (a policy predicate may
        reference its own table's columns only).

        Index routes are NOT bypassed (VERDICT r11 #3): the
        MATCH/NGRAM/value-index splice replaces the matched predicate
        with an id semi-join IMPLIED by it, so running the spliced
        text over the filtered views returns exactly (policy-visible
        rows) ∩ (predicate rows) — the policy conjunct attaches to
        the route instead of defeating it. Routing runs BEFORE the
        view swap so a stale index rebuilds from the UNFILTERED
        corpus (the posting store is shared; per-identity filtering
        happens at the scan, never in the index)."""
        self.last_match_indexed = False
        self.last_like_indexed = False
        self.last_eq_indexed = False
        if self.indexes:
            routed = self._try_indexed_match(stripped)
            if routed is None:
                routed = self._try_indexed_like(stripped)
            if routed is None:
                routed = self._try_indexed_eq(stripped)
            if routed is not None:
                stripped = routed
        filtered = {}
        for tbl, expr in pol.items():
            filtered[tbl] = doris_sql(
                self.spark, f"SELECT * FROM `{tbl}` WHERE {expr}"
            )
            # PARTITION-selection rewrites replaced some references with
            # per-statement `<tbl>__psel_<n>` views built straight from
            # the table's rowsets — filter those too, or the partition
            # path would bypass the policy (they are re-created from
            # scratch on every statement, so no restore is needed)
            for pv in re.findall(
                rf"\b({re.escape(tbl)}__psel_\d+)\b", stripped
            ):
                doris_sql(
                    self.spark, f"SELECT * FROM `{pv}` WHERE {expr}"
                ).createOrReplaceTempView(pv)
        # async-MV snapshots hold UNFILTERED rows: when the statement
        # reaches an MV (by name, or through views) whose base closure
        # includes a policied table, the MV's temp view is swapped for
        # a recompute of its BODY as this identity — the recursion
        # through sql() re-enters this method for the body, so base
        # policies (and nested MVs) apply all the way down (r12 audit:
        # direct-MV-read laundering repro). The recompute is built
        # BEFORE any swap (DataFrames freeze their analyzed plan), and
        # the snapshot view is captured for restore the same way.
        # Deliberate semantic edge: a policied identity reading a
        # STALE MV gets the body over the CURRENT bases (fresh), not
        # the stale snapshot — freshness can only err toward newer,
        # never toward leaked rows; upstream has no policied-MV
        # semantics to match (policies don't attach to MVs there).
        mv_prev = {}
        mv_filtered = {}
        for mvn, body in self._mv_reach(stripped).items():
            closure = self._expand_view_refs(body)[0]
            for b in self._mv_reach(body).values():
                closure |= self._expand_view_refs(b)[0]
            if closure & set(pol):
                mv_prev[mvn] = self.spark.table(mvn)
                prev_rc = self.result_cache_enabled
                prev_mvr = self.mv_rewrite_enabled
                self.result_cache_enabled = False
                self.mv_rewrite_enabled = False
                try:
                    # plain sql() recursion, NOT _sql_nocache: definer
                    # rights would bypass the very policies we are
                    # enforcing — the body must run AS current_user
                    mv_filtered[mvn] = self.sql(body)
                finally:
                    self.result_cache_enabled = prev_rc
                    self.mv_rewrite_enabled = prev_mvr
        try:
            for tbl, df in filtered.items():
                df.createOrReplaceTempView(tbl)
            for mvn, df in mv_filtered.items():
                df.createOrReplaceTempView(mvn)
            return doris_sql(self.spark, stripped)
        finally:
            for tbl in filtered:
                t = self.tables.get(tbl)
                base = self._table_df(t) if t is not None else None
                if base is not None:
                    base.createOrReplaceTempView(tbl)
            for mvn, df in mv_prev.items():
                df.createOrReplaceTempView(mvn)

    def _backup_snapshot(self, label: str, repo: str, tables: list[str]):
        """Doris ``BACKUP SNAPSHOT label TO repo ON (t1, ...)``
        ([docs: data-admin backup]): a full per-table copy — every
        rowset file plus the table meta (model, schema-change history,
        delete predicates, sign metadata) — under
        ``<repo>/<label>/<table>/``, with a manifest. Labels are
        one-shot (upstream: snapshot names are unique per repo).

        Scale: the copy is file-level (no read/merge/rewrite of data);
        on a cluster the same layout maps to a distcp of the tablet
        directories."""
        if repo not in self.repositories:
            raise ValueError(f"unknown repository {repo!r}")
        snapdir = os.path.join(self.repositories[repo], label)
        if os.path.exists(snapdir):
            raise ValueError(
                f"snapshot {label!r} already exists in repository {repo!r}"
            )
        manifest: dict = {"label": label, "tables": {}}
        os.makedirs(snapdir)
        try:
            for name in tables:
                t = self._table(name)
                t._sync_meta()
                dst = os.path.join(snapdir, name.lower())
                _sh.copytree(t.location, dst)
                manifest["tables"][name.lower()] = {
                    "location": t.location,
                    # runtime attrs a reopened handle cannot recover
                    # from meta alone — carried in the manifest so a
                    # restored table keeps typed VALUES inserts and
                    # variant subscripts working
                    "declared_schema": getattr(t, "_declared_schema", None),
                    "variant_cols": sorted(getattr(t, "_variant_cols", ())),
                }
            with open(os.path.join(snapdir, "_manifest.json"), "w") as f:
                _json.dump(manifest, f)
        except Exception:
            _sh.rmtree(snapdir, ignore_errors=True)  # no half snapshots
            raise
        self._backup_history.append((label, repo))
        return None

    def _restore_snapshot(
        self, label: str, repo: str, specs: list[tuple[str, str]]
    ):
        """Doris ``RESTORE SNAPSHOT label FROM repo ON (t [AS t2])``:
        re-materializes backed-up tables as NEW session tables. The
        restored table gets a fresh lineage nonce — it is a different
        object from whatever currently bears the name elsewhere, so
        result-cache keys can never collide — and rowset paths are
        rebased onto the restore location. Restoring onto a LIVE table
        name is the upstream in-place form: the snapshot state replaces
        the table, the displaced incarnation is tombstoned into the
        recycle bin (recoverable, re-attach-consistent), and the swap
        propagates to rollups and ON COMMIT async MVs. Only views and
        async-MV names are refused."""
        if repo not in self.repositories:
            raise ValueError(f"unknown repository {repo!r}")
        snapdir = os.path.join(self.repositories[repo], label)
        mf = os.path.join(snapdir, "_manifest.json")
        if not os.path.isfile(mf):
            raise ValueError(
                f"unknown snapshot {label!r} in repository {repo!r}"
            )
        with open(mf) as f:
            manifest = _json.load(f)
        for src, dst in specs:
            src, dst = src.lower(), dst.lower()
            if src not in manifest["tables"]:
                raise ValueError(
                    f"snapshot {label!r} does not contain table {src!r}"
                )
            # restoring onto an EXISTING TABLE is the upstream in-place
            # form (overwrite with the snapshot state); only views and
            # async MVs may not be clobbered by a table restore
            if dst in self.views or dst in self.async_mvs:
                raise ValueError(f"name {dst!r} already taken")
        for src, dst in specs:
            src, dst = src.lower(), dst.lower()
            entry = manifest["tables"][src]
            new_loc = (
                f"{self.location_root}/{dst}"
                if self.location_root
                else _tf.mkdtemp(prefix=f"palo_restore_{dst}_")
            )
            if os.path.exists(new_loc) and os.listdir(new_loc):
                # the default spot is occupied (e.g. a DROPPED table's
                # directory still on disk — drops unregister, they do
                # not reclaim storage): restore beside it rather than
                # deleting data this session does not own
                new_loc = f"{new_loc}__restore_{label}_{_uuid.uuid4().hex[:8]}"
            _sh.rmtree(new_loc, ignore_errors=True)
            _sh.copytree(os.path.join(snapdir, src), new_loc)
            # rebase rowset paths and re-identify the table
            from palo_spark.tables import _META_FILE

            meta_path = os.path.join(new_loc, _META_FILE)
            with open(meta_path) as f:
                d = _json.load(f)
            old_loc = entry["location"]
            for r in d.get("rowsets", []):
                if r["path"].startswith(old_loc):
                    r["path"] = new_loc + r["path"][len(old_loc):]
            d["name"] = dst
            d["lineage"] = _uuid.uuid4().hex
            with open(meta_path, "w") as f:
                _json.dump(d, f)
            t = Table.open(self.spark, new_loc)
            if entry.get("declared_schema"):
                t._declared_schema = entry["declared_schema"]  # type: ignore[attr-defined]
            t._variant_cols = set(entry.get("variant_cols", ()))  # type: ignore[attr-defined]
            # in-place form: the restored object REPLACES the live table
            # under the name (upstream overwrite-restore). The displaced
            # table's storage is left on disk — this session does not
            # reclaim data directories — and the fresh lineage nonce
            # plus _refresh_view make the swap cache-safe and propagate
            # it to rollups and ON COMMIT async MVs.
            displaced = self.tables.get(dst)
            if displaced is not None:
                # tombstone the displaced incarnation (recycle bin): a
                # session re-attach over this warehouse must resolve the
                # name to the RESTORED directory, and the old data stays
                # recoverable the same way a DROP is
                displaced.meta.dropped = True
                displaced._save_meta()
            self.tables[dst] = t
            if displaced is not None:
                self._refresh_rollups(dst, t)
            self._refresh_view(dst)
        self._restore_history.append((label, repo))
        return None

    # ------------------------------------------------------------- DML

    def _insert(self, text: str, rows_override=None) -> int:
        m = _INSERT_RE.match(text)
        assert m is not None
        name = m.group("name").lower()
        if name not in self.tables:
            raise ValueError(f"unknown palo table {name!r}")
        t = self.tables[name]
        body = m.group("body")
        if rows_override is not None:
            rows = rows_override
        elif body.lstrip().upper().startswith("VALUES"):
            # Spark parses the VALUES clause itself
            rows = self.spark.sql("SELECT * FROM " + translate(body))
        else:
            rows = self.sql(body)
        # positional column mapping + cast to the declared schema (MySQL
        # INSERT semantics: the select list / value tuples map by
        # position to the target columns)
        schema = getattr(t, "_declared_schema", None)
        if schema is not None:
            decl = [s.strip().split()[0] for s in _schema_parts(schema)]
            typs = [s.strip().split(None, 1)[1] for s in _schema_parts(schema)]
            cols = m.group("cols")
            names = (
                [c.strip().strip("`") for c in cols.split(",")] if cols else decl
            )
            if len(rows.columns) != len(names):
                raise ValueError(
                    f"INSERT arity mismatch: {len(rows.columns)} values for "
                    f"{len(names)} target columns"
                )
            by_name = {}
            for col_name, got in zip(names, rows.columns):
                low = col_name.lower()
                if low not in [d.lower() for d in decl]:
                    raise ValueError(
                        f"unknown INSERT target column {col_name!r}"
                    )
                by_name[low] = got
            # Doris column-list INSERT: listed columns map by position,
            # UNLISTED declared columns fill with NULL (upstream fills
            # the column default; this engine's CREATE grammar declares
            # no defaults, so NULL IS the default) — the projection
            # must still produce the full declared schema or the
            # rowset write fails on the missing columns
            sel = []
            for i, d in enumerate(decl):
                got = by_name.get(d.lower())
                if got is not None:
                    sel.append(f"CAST(`{got}` AS {typs[i]}) AS `{d}`")
                else:
                    sel.append(f"CAST(NULL AS {typs[i]}) AS `{d}`")
            rows = rows.selectExpr(*sel)
        plist = m.group("plist")
        if plist:
            # target-partition restriction: label every row, refuse the
            # whole load if any row falls outside the listed partitions
            # (Doris strict mode errors; silently dropping rows would
            # be a wrong answer). The labeled column rides into the
            # write, so the assignment is computed once.
            from pyspark.sql import functions as F

            from palo_spark.tables import AUTO_PART_COL

            rp = t.meta.range_partitions
            if rp is None and not t.meta.auto_partition:
                raise ValueError(
                    "INSERT ... PARTITION requires a partitioned table"
                )
            target = [p.strip().strip("`") for p in plist.split(",") if p.strip()]
            if rp is not None:
                declared = {p["name"] for p in rp["parts"]}
                unknown = [p for p in target if p not in declared]
                if unknown:
                    raise ValueError(f"unknown partition(s) {unknown}")
            labeled = rows.withColumn(
                AUTO_PART_COL, t.partition_label_expr()
            )
            stray = labeled.filter(
                ~F.col(AUTO_PART_COL).isin(target)
            ).limit(1).collect()
            if stray:
                raise ValueError(
                    f"insert row belongs to partition "
                    f"{stray[0][AUTO_PART_COL]!r}, outside the target "
                    f"PARTITION list {target} (strict mode refuses the load)"
                )
            rows = labeled
        version = t.insert(
            rows, label=m.group("label"),
            temp_partition=m.group("temppart"),
        )
        if version == -1:
            # label already applied (idempotent replay): no new rowset,
            # no view/MV refresh needed
            return -1
        self._refresh_view(name)
        return version

    @staticmethod
    def _split_statements(text: str) -> list[str]:
        """Split on TOP-LEVEL ``;`` only. Respected (never split
        inside): ``'...'``/``"..."``/backtick literals with both
        backslash-escaped and doubled-quote escapes (MySQL string
        rules), ``(...)`` nesting, ``-- `` line comments (MySQL
        requires whitespace/EOL after the dashes, so ``a--b``
        arithmetic still splits normally), ``#`` line comments, and
        ``/* ... */`` block comments. Comment text is preserved in the
        statement it belongs to (Spark parses it fine); statements that
        are ONLY comments/whitespace are dropped."""
        stmts: list[str] = []
        cur: list[str] = []
        depth, quote = 0, None
        i, n = 0, len(text)
        while i < n:
            ch = text[i]
            if quote:
                cur.append(ch)
                if ch == "\\" and quote != "`" and i + 1 < n:
                    # backslash escape (\' \" \\) — consume escaped char
                    cur.append(text[i + 1])
                    i += 2
                    continue
                if ch == quote:
                    if i + 1 < n and text[i + 1] == quote:
                        # doubled-quote escape ('' "" ``) stays inside
                        cur.append(text[i + 1])
                        i += 2
                        continue
                    quote = None
                i += 1
                continue
            if text.startswith("--", i) and (i + 2 >= n or text[i + 2] in " \t\n\r"):
                j = text.find("\n", i)
                j = n if j == -1 else j
                cur.append(text[i:j])
                i = j
                continue
            if ch == "#":
                j = text.find("\n", i)
                j = n if j == -1 else j
                cur.append(text[i:j])
                i = j
                continue
            if text.startswith("/*", i):
                j = text.find("*/", i + 2)
                j = n if j == -1 else j + 2
                cur.append(text[i:j])
                i = j
                continue
            if ch in "'\"`":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == ";" and depth == 0:
                stmts.append("".join(cur))
                cur = []
                i += 1
                continue
            cur.append(ch)
            i += 1
        stmts.append("".join(cur))
        return [s for s in stmts if PaloSession._strip_comments(s).strip()]

    @staticmethod
    def _strip_comments(s: str) -> str:
        """Remove SQL comments (for the is-this-statement-empty check
        only — executed text keeps its comments)."""
        out: list[str] = []
        i, n, quote = 0, len(s), None
        while i < n:
            ch = s[i]
            if quote:
                out.append(ch)
                if ch == "\\" and quote != "`" and i + 1 < n:
                    out.append(s[i + 1])
                    i += 2
                    continue
                if ch == quote:
                    quote = None
                i += 1
                continue
            if s.startswith("--", i) and (i + 2 >= n or s[i + 2] in " \t\n\r"):
                j = s.find("\n", i)
                i = n if j == -1 else j
                continue
            if ch == "#":
                j = s.find("\n", i)
                i = n if j == -1 else j
                continue
            if s.startswith("/*", i):
                j = s.find("*/", i + 2)
                i = n if j == -1 else j + 2
                continue
            if ch in "'\"`":
                quote = ch
            out.append(ch)
            i += 1
        return "".join(out)

    def script(self, text: str) -> list:
        """Run a semicolon-separated Doris SQL script (the mysql-client
        batch shape migrating users paste in); returns one result per
        non-empty statement."""
        return [self.sql(s) for s in self._split_statements(text)]

    def _create_routine_load(self, job: str, tbl: str, props_text: str, kafka_text: str):
        """``CREATE ROUTINE LOAD job ON tbl PROPERTIES (...) FROM KAFKA
        (...)`` — the Doris continuous-ingestion statement, lowered to
        :func:`palo_spark.streaming.routine_load` (checkpointed source
        offsets × the table's label ledger = exactly-once, the same
        two-sided idempotency the upstream FE records in load txns).

        ``kafka_broker_list`` of the form ``file://<dir>`` consumes
        files appearing under that directory — the in-repo stand-in for
        a broker, since no Kafka connector jar ships in this
        environment (same adaptation as the embedded-Derby JDBC path).
        Each scheduling round drains what exists (availableNow) and
        leaves the job RUNNING; RESUME triggers another round."""
        job = job.lower()
        existing = self.routine_jobs.get(job)
        if existing is not None and existing["state"] != "STOPPED":
            raise ValueError(f"routine load job {job!r} already exists")
        # a STOPPED job is terminal — its name is reusable (upstream:
        # finalized routine-load job labels can be reused). On the SAME
        # table the new job continues from the old job's checkpoint, so
        # already-ingested files are not replayed into the table;
        # on a different table the checkpoint path is fresh and the new
        # job drains everything currently in the source.
        t = self._table(tbl)
        props = {
            m.group("k").lower(): m.group("v")
            for m in _PROP_KV_RE.finditer(props_text)
        }
        kprops = {
            m.group("k").lower(): m.group("v")
            for m in _PROP_KV_RE.finditer(kafka_text)
        }
        broker = kprops.get("kafka_broker_list", "")
        if not broker.startswith("file://"):
            raise ValueError(
                "no Kafka connector jar in this environment — use a "
                "file://<dir> broker to consume files appearing there "
                "(palo_spark.streaming.kafka_routine_load is the real-"
                "broker path on a cluster with the connector)"
            )
        self.routine_jobs[job] = {
            "table": t.meta.name.lower(),
            "source": broker[len("file://"):],
            "format": props.get("format", "json").lower(),
            "state": "RUNNING",
            "batches": 0,
        }
        self._drain_routine(job)
        return None

    @staticmethod
    def _job_ts(text: str):
        from datetime import datetime as _dt

        return _dt.fromisoformat(text.strip())

    def _create_job(self, m) -> None:
        """Doris 2.1 ``CREATE JOB name ON SCHEDULE (AT 'ts' | EVERY n
        unit [STARTS 'ts'] [ENDS 'ts']) DO <insert>`` ([docs:
        job-scheduler]). The DO statement must be an INSERT (upstream
        restriction). Execution happens in :meth:`tick_jobs` — the
        scheduler loop a deployment runs on a timer; every due
        occurrence executes exactly once (deterministic catch-up: the
        result is what a continuously-running scheduler would have
        produced)."""
        name = m.group("name").lower()
        existing = self.insert_jobs.get(name)
        if existing is not None and existing["state"] != "FINISHED":
            raise ValueError(f"job {name!r} already exists")
        do = m.group("do").strip().rstrip(";")
        if not do.upper().startswith("INSERT"):
            raise ValueError(
                "CREATE JOB supports INSERT statements only "
                "(Doris job-scheduler restriction)"
            )
        if m.group("at"):
            kind, interval, next_run, ends = (
                "ONE_TIME", None, self._job_ts(m.group("at")), None
            )
        else:
            from datetime import datetime as _dt

            interval = int(m.group("n")) * _JOB_UNIT_S[
                m.group("unit").lower()
            ]
            next_run = (
                self._job_ts(m.group("starts"))
                if m.group("starts") else _dt.now()
            )
            ends = self._job_ts(m.group("ends")) if m.group("ends") else None
        self.insert_jobs[name] = {
            "kind": kind if m.group("at") else "RECURRING",
            "interval_s": interval,
            "next_run": next_run,
            "ends": ends,
            "do": do,
            "comment": m.group("comment") or "",
            "state": "RUNNING",
            "tasks": [],
        }
        return None

    def tick_jobs(self, now=None) -> int:
        """One scheduler round: execute every due occurrence of every
        RUNNING job (ordered by occurrence time, then name — the order
        a continuously-running timer would have used). Returns the
        number of task executions. ``now`` defaults to wall clock; the
        deterministic replay path passes it explicitly."""
        from datetime import datetime as _dt, timedelta as _td

        now = self._job_ts(now) if isinstance(now, str) else (now or _dt.now())
        ran = 0
        while True:
            due = [
                (j["next_run"], name, j)
                for name, j in self.insert_jobs.items()
                if j["state"] == "RUNNING" and j["next_run"] <= now
                and (j["ends"] is None or j["next_run"] <= j["ends"])
            ]
            if not due:
                break
            ts, name, j = min(due)
            try:
                self._sql_nocache(j["do"])
                status, err = "SUCCESS", ""
            except Exception as e:  # noqa: BLE001 — task failure is a row
                status, err = "FAILED", str(e).split("\n")[0][:200]
            j["tasks"].append(
                {"job": name, "ts": ts.isoformat(sep=" "), "status": status,
                 "err": err}
            )
            ran += 1
            if j["kind"] == "ONE_TIME":
                j["state"] = "FINISHED"
            else:
                j["next_run"] = ts + _td(seconds=j["interval_s"])
                if j["ends"] is not None and j["next_run"] > j["ends"]:
                    j["state"] = "FINISHED"
        return ran

    def _jobs_df(self, props: dict):
        """The ``jobs("type"="insert")`` metadata TVF ([docs:
        job-scheduler])."""
        rows = [
            (n, j["kind"],
             f"EVERY {j['interval_s']} SECOND" if j["interval_s"] else "",
             j["next_run"].isoformat(sep=" "), j["state"], j["comment"])
            for n, j in sorted(self.insert_jobs.items())
        ]
        return self.spark.createDataFrame(
            rows,
            "Name string, ExecuteType string, RecurringStrategy string, "
            "NextRun string, Status string, Comment string",
        )

    def _catalogs_df(self, props: dict):
        """The ``catalogs()`` metadata TVF ([docs: table-functions/
        catalogs]): the internal catalog plus every CREATE CATALOG."""
        rows = [(0, "internal", "internal", "")] + [
            (i + 1, n, c.get("type", ""), c.get("root", c.get("url", "")))
            for i, (n, c) in enumerate(sorted(self.catalogs.items()))
        ]
        return self.spark.createDataFrame(
            rows,
            "CatalogId long, CatalogName string, Type string, "
            "Property string",
        )

    def _expand_alias_functions(self, text: str, depth: int = 0) -> str:
        """Expand ``CREATE ALIAS FUNCTION`` macro calls: ``name(args)``
        becomes the stored body with each parameter replaced by its
        (parenthesized) argument. Textual and pre-translate, exactly
        the upstream contract; nested/recursive aliases expand up to a
        bounded depth, cycles fail loud."""
        if depth > 8:
            raise ValueError(
                "alias function expansion exceeded depth 8 (cycle?)"
            )

        def split_top(s: str) -> list[str]:
            parts, buf, d, q = [], [], 0, False
            for ch in s:
                if q:
                    buf.append(ch)
                    if ch == "'":
                        q = False
                    continue
                if ch == "'":
                    q = True
                elif ch == "(":
                    d += 1
                elif ch == ")":
                    d -= 1
                elif ch == "," and d == 0:
                    parts.append("".join(buf))
                    buf = []
                    continue
                buf.append(ch)
            if buf or parts:
                parts.append("".join(buf))
            return parts

        changed = False
        for name, (params, body) in self.alias_functions.items():
            pat = re.compile(rf"\b{re.escape(name)}\s*\(", re.IGNORECASE)
            pos = 0
            while True:
                m = pat.search(text, pos)
                if m is None:
                    break
                if text.count("'", 0, m.start()) % 2 == 1:
                    pos = m.end()  # inside a string literal
                    continue
                # balanced-paren scan for the closing argument paren
                i, d, q = m.end(), 1, False
                while i < len(text) and d:
                    ch = text[i]
                    if q:
                        q = ch != "'"
                    elif ch == "'":
                        q = True
                    elif ch == "(":
                        d += 1
                    elif ch == ")":
                        d -= 1
                    i += 1
                if d:
                    raise ValueError(f"unbalanced call of alias {name!r}")
                args = [a.strip() for a in split_top(text[m.end(): i - 1])]
                args = [a for a in args if a] or []
                if len(args) != len(params):
                    raise ValueError(
                        f"alias function {name!r} expects {len(params)} "
                        f"arguments, got {len(args)}"
                    )
                # substitute params outside the body's string literals —
                # SIMULTANEOUSLY (one alternation pass, so an argument
                # that happens to contain another parameter's name is
                # never re-substituted) and via a lambda (argument text
                # must never be parsed as a regex replacement template:
                # backslashes / \1 in a literal argument are data)
                sub = dict(zip(params, args))
                alt = re.compile(
                    r"\b(" + "|".join(re.escape(p) for p in params) + r")\b"
                )
                bparts = re.split(r"('(?:[^']|'')*')", body)
                for bi in range(0, len(bparts), 2):
                    bparts[bi] = alt.sub(
                        lambda mm: "(" + sub[mm.group(1)] + ")", bparts[bi]
                    )
                text = text[: m.start()] + "(" + "".join(bparts) + ")" + text[i:]
                changed = True
                pos = m.start() + 1
        if changed:
            return self._expand_alias_functions(text, depth + 1)
        return text

    def _rewrite_client_builtins(self, text: str) -> str:
        """``@@[session.|global.]name`` → the session variable's value
        as a string literal; ``DATABASE()``/``SCHEMA()`` → 'default';
        ``CONNECTION_ID()`` → 1. Applied outside single-quoted
        literals only."""
        parts = re.split(r"('(?:[^']|'')*')", text)
        for i in range(0, len(parts), 2):
            seg = parts[i]
            seg = re.sub(
                r"@@(?:session\.|global\.)?(\w+)",
                lambda m: "'"
                + self.variables.get(m.group(1).lower(), "").replace("'", "''")
                + "'",
                seg,
            )
            seg = re.sub(
                r"\b(?:DATABASE|SCHEMA)\s*\(\s*\)", "'default'", seg,
                flags=re.IGNORECASE,
            )
            seg = re.sub(
                r"\bCONNECTION_ID\s*\(\s*\)", "1", seg, flags=re.IGNORECASE
            )
            parts[i] = seg
        return "".join(parts)

    def _client_compat_df(self, stripped: str, up: str):
        """MySQL-client / BI-tool compatibility statements ([docs:
        sql-statements SHOW-*]): the metadata surface a connector
        issues on connect or that an ops runbook reads. Single-node,
        single-user engine — rows state that honestly (one process
        row, one ALL-grant, FINISHED jobs: light schema change and
        loads apply synchronously here, so every job the history can
        name is terminal). Returns None for statements this layer
        doesn't own."""
        mk = self.spark.createDataFrame
        if up.startswith("SHOW TABLE STATUS"):
            return mk(
                [(n, "OLAP", "DUP" if t.meta.keys_type == "DUPLICATE"
                  else t.meta.keys_type, len(t.meta.rowsets))
                 for n, t in sorted(self.tables.items())]
                or [("", "", "", 0)],
                "Name string, Engine string, Model string, Rowsets int",
            ).filter("Name <> ''")
        if up.startswith("SHOW PROCESSLIST"):
            return mk(
                [(1, "root", "localhost", "default", "Query", 0, "OK")],
                "Id long, User string, Host string, Db string, "
                "Command string, Time int, State string",
            )
        if up.startswith(("SHOW FRONTENDS", "SHOW BACKENDS")) or re.match(
            r"^\s*SHOW\s+PROC\s+'/(front|back)ends'", stripped, re.IGNORECASE
        ):
            return self._nodes_df({})
        if up.startswith("SHOW GRANTS"):
            fm = re.search(
                r"FOR\s+'?([\w.-]+)'?", stripped, re.IGNORECASE
            )
            who = (fm.group(1) if fm else self.current_user).lower()
            if who == "root":
                rows = [("'root'@'%'", "*", "ADMIN_PRIV")]
            else:
                if who not in self.access.users:
                    raise ValueError(f"unknown user {who!r}")
                rows = self.access.grants_rows(who)
            return mk(
                rows, "UserIdentity string, Scope string, Privs string"
            )
        if up.startswith("SHOW ROLES"):
            return mk(
                [(r,) for r in sorted(self.access.roles)], "Name string"
            )
        if up.startswith("SHOW ROW POLICY"):
            fm = re.search(
                r"FOR\s+(ROLE\s+)?'?([\w.-]+)'?", stripped, re.IGNORECASE
            )
            pols = self.access.policies
            if fm:
                w = fm.group(2).lower()
                if fm.group(1):
                    # FOR ROLE 'r' — that role's policies only
                    pols = [
                        p for p in pols
                        if p.to_kind == "role" and p.to_name == w
                    ]
                else:
                    # FOR 'user' — everything applicable to that user:
                    # direct user-grantee policies plus any attached
                    # via a role the user holds (ADVICE r11: to_name
                    # alone omitted role-borne policies and conflated
                    # a role sharing the user's name)
                    roles = self.access.users.get(w, set())
                    pols = [
                        p for p in pols
                        if (p.to_kind == "user" and p.to_name == w)
                        or (p.to_kind == "role" and p.to_name in roles)
                    ]
            return mk(
                [
                    (p.name, p.table, p.kind,
                     f"{p.to_kind} '{p.to_name}'", p.expr)
                    for p in pols
                ] or [("", "", "", "", "")],
                "PolicyName string, TableName string, Type string, "
                "GranteeName string, WherePredicate string",
            ).filter("PolicyName <> ''")
        if up.startswith("SHOW COLLATION"):
            return mk(
                [("utf8mb4_0900_bin", "utf8mb4", 309)],
                "Collation string, Charset string, Id int",
            )
        if up.startswith(("SHOW CHARSET", "SHOW CHARACTER SET")):
            return mk(
                [("utf8mb4", "UTF-8 Unicode", "utf8mb4_0900_bin", 4)],
                "Charset string, Description string, "
                "`Default collation` string, Maxlen int",
            )
        if up.startswith("SHOW ENGINES"):
            return mk(
                [("Olap engine", "YES", "Default storage engine")],
                "Engine string, Support string, Comment string",
            )
        if up.startswith("SHOW LOAD"):
            rows = [
                (i, lbl, n, "FINISHED")
                for i, (n, lbl) in enumerate(
                    (n, lbl)
                    for n, t in sorted(self.tables.items())
                    for lbl in t.meta.labels
                )
            ]
            return mk(
                rows or [(0, "", "", "")],
                "JobId long, Label string, TableName string, State string",
            ).filter("Label <> ''")
        if up.startswith("SHOW BACKUP"):
            return mk(
                [(l, r, "FINISHED") for l, r in self._backup_history]
                or [("", "", "")],
                "SnapshotName string, Repository string, State string",
            ).filter("SnapshotName <> ''")
        if up.startswith("SHOW RESTORE"):
            return mk(
                [(l, r, "FINISHED") for l, r in self._restore_history]
                or [("", "", "")],
                "Label string, Repository string, State string",
            ).filter("Label <> ''")
        if re.match(r"^\s*SHOW\s+ALTER\s+TABLE\s+COLUMN", stripped,
                    re.IGNORECASE):
            rows = []
            jid = 0
            for n, t in sorted(self.tables.items()):
                m = t.meta
                for a in m.schema_adds:
                    jid += 1
                    rows.append((jid, n, f"ADD COLUMN {a['col']}", "FINISHED"))
                for c in m.schema_drops:
                    jid += 1
                    rows.append((jid, n, f"DROP COLUMN {c}", "FINISHED"))
                for rn in m.schema_renames:
                    jid += 1
                    rows.append(
                        (jid, n, f"RENAME {rn['from']} {rn['to']}", "FINISHED")
                    )
            return mk(
                rows or [(0, "", "", "")],
                "JobId long, TableName string, Msg string, State string",
            ).filter("TableName <> ''")
        if up.startswith("SHOW DYNAMIC PARTITION TABLES"):
            rows = [
                (n, "true", -int(t.meta.dynamic_partition_retention))
                for n, t in sorted(self.tables.items())
                if getattr(t.meta, "dynamic_partition_retention", None)
            ]
            return mk(
                rows or [("", "", 0)],
                "TableName string, Enable string, Start int",
            ).filter("TableName <> ''")
        am = re.match(
            r"^\s*ADMIN\s+SHOW\s+REPLICA\s+STATUS\s+FROM\s+`?(\w+)`?",
            stripped, re.IGNORECASE,
        )
        if am:
            t = self._table(am.group(1))
            n = t.meta.buckets or 1
            return mk(
                [(i + 1, 1, "local-1", t.meta.mutations, "OK")
                 for i in range(n)],
                "TabletId long, ReplicaId long, Backend string, "
                "Version long, Status string",
            )
        return None

    def _nodes_df(self, props: dict):
        """``frontends()`` / ``backends()`` metadata TVFs: in local
        Spark there is ONE node (the driver JVM hosts both roles); on a
        cluster these would enumerate the executor topology."""
        sc = self.spark.sparkContext
        return self.spark.createDataFrame(
            [("local-1", sc.master, "Alive", sc.defaultParallelism)],
            "Name string, Host string, State string, Cores int",
        )

    def _tasks_df(self, props: dict):
        """The ``tasks("type"="insert")`` metadata TVF."""
        rows = [
            (i, t["job"], t["ts"], t["status"], t["err"])
            for n, j in sorted(self.insert_jobs.items())
            for i, t in enumerate(j["tasks"])
        ]
        return self.spark.createDataFrame(
            rows,
            "TaskId long, JobName string, CreateTime string, "
            "Status string, ErrorMsg string",
        )

    def _drain_routine(self, job: str) -> None:
        """One scheduling round: drain everything currently in the
        job's source directory into its table (availableNow trigger —
        the production deployment drops the trigger and runs forever)."""
        import os as _os

        from palo_spark.streaming import routine_load

        j = self.routine_jobs[job]
        t = self.tables[j["table"]]
        schema = getattr(t, "_declared_schema", None)
        if not schema:
            raise ValueError("routine load needs a declared table schema")
        ckpt = _os.path.join(t.location, f"_routine_{job}_ckpt")
        routine_load(
            self.spark,
            j["source"],
            schema,
            t,
            ckpt,
            fmt=j["format"],
        )
        j["batches"] += 1
        self._refresh_view(j["table"])

    def _create_catalog(
        self, name: str, props_text: str, if_not_exists: bool
    ) -> None:
        """Doris 1.2 multi-catalog, the lite shim (SURVEY-era external
        tables surface): ``CREATE CATALOG ext PROPERTIES
        ('type'='parquet_dir', 'root'='/data/ext')`` maps every
        ``<root>/<tbl>.parquet`` to a table addressed ``ext.tbl``.
        Tables register as temp views named ``ext__tbl`` (Spark temp
        views cannot hold dots); :meth:`_rewrite_catalog_refs`
        translates the dotted references in query text. Reads go
        through :func:`palo_spark.catalog.load_table`, so the external
        tables get the same runtime-conf defenses (nanos timestamps)
        as the primary fixture root.
        [upstream: Doris fe multi-catalog — CatalogMgr/ExternalCatalog;
        here only the file-system catalog type is meaningful.]"""
        import os as _os

        from palo_spark.catalog import load_table

        name = name.lower()
        if name in self.catalogs:
            if if_not_exists:
                return None
            # re-create = refresh: drop EVERY old view first so tables
            # that vanished from the (possibly different) root cannot
            # keep serving the previous root's data through a stale
            # temp view, and a later DROP CATALOG cannot leak them
            for tbl in self.catalogs[name]["tables"]:
                self.spark.catalog.dropTempView(f"{name}__{tbl}")
        props = {
            m.group("k").lower(): m.group("v")
            for m in _PROP_KV_RE.finditer(props_text)
        }
        ctype = props.get("type", "")
        if ctype == "jdbc":
            # Doris 1.2 JDBC catalog ([docs: multi-catalog jdbc]): every
            # table of the remote database becomes `name.tbl`. Table
            # discovery queries the database's own metadata (Derby:
            # SYS.SYSTABLES — swap the discovery query per backend on a
            # real cluster) unless 'tables' lists them explicitly. The
            # temp views wrap Spark JDBC relations, so each query
            # re-reads the live database — remote writes are visible
            # without REFRESH (REFRESH CATALOG re-runs discovery for
            # table-LIST changes).
            from palo_spark.sources import jdbc_scan

            url = props.get("jdbc_url") or props.get("url")
            if not url:
                raise ValueError("jdbc catalog needs a 'jdbc_url' property")
            driver = props.get("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            opts = {"driver": driver}
            if props.get("tables"):
                tables = sorted(
                    t.strip().lower() for t in props["tables"].split(",") if t.strip()
                )
            else:
                disc = props.get(
                    "discovery_query",
                    "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
                )
                tables = sorted(
                    r[0].lower()
                    for r in jdbc_scan(
                        self.spark, url, f"({disc}) d", **opts
                    ).collect()
                )
            if not tables:
                raise ValueError(f"no tables discovered in jdbc catalog {name!r}")
            for tbl in tables:
                jdbc_scan(self.spark, url, tbl, **opts).createOrReplaceTempView(
                    f"{name}__{tbl}"
                )
            self.catalogs[name] = {
                "type": ctype, "root": url, "tables": tables,
                "driver": driver,
            }
            return None
        if ctype != "parquet_dir":
            raise ValueError(
                f"unsupported catalog type {ctype!r} (only 'parquet_dir' "
                "and 'jdbc' are available in this build; es external "
                "tables go through palo_spark.sources)"
            )
        root = props.get("root")
        if not root or not _os.path.isdir(root):
            raise ValueError(f"catalog root is not a directory: {root!r}")
        tables = sorted(
            f[: -len(".parquet")]
            for f in _os.listdir(root)
            if f.endswith(".parquet")
        )
        if not tables:
            raise ValueError(f"no *.parquet tables under {root!r}")
        for tbl in tables:
            load_table(self.spark, root, tbl).createOrReplaceTempView(
                f"{name}__{tbl}"
            )
        self.catalogs[name] = {"type": ctype, "root": root, "tables": tables}
        return None

    def _expand_view_refs(self, text: str) -> tuple[set[str], list]:
        """Close ``text`` over session-view bodies: returns the session
        TABLES reachable from it (directly or through any chain of
        views) and the (view_name, body) pairs encountered, in sorted
        order. The result-cache key is built from the EXPANSION — a
        view name must not hide its base tables (a base mutation has to
        invalidate) nor its own definition (CREATE OR REPLACE VIEW has
        to invalidate) from the key (r9 audit, two wrong-answer
        repros)."""
        tables: set[str] = set()
        pairs: dict[str, str] = {}
        frontier = [text]
        while frontier:
            t = frontier.pop()
            for n in self.tables:
                if re.search(rf"\b{re.escape(n)}\b", t, re.IGNORECASE):
                    tables.add(n)
            for v, body in self.views.items():
                if v not in pairs and re.search(
                    rf"\b{re.escape(v)}\b", t, re.IGNORECASE
                ):
                    pairs[v] = body
                    frontier.append(body)
        return tables, sorted(pairs.items())

    def _text_touches_catalog(self, text: str) -> bool:
        """Whether (already-rewritten) statement text reads an external
        catalog — directly via a ``cat__tbl`` view, or indirectly via a
        session view flagged in ``_catalog_views``. Gates the result
        cache: catalog files carry no mutation ledger, so such reads
        must never be cached. Table-valued-function scans (``__tvf_``
        views) are the same class — external files, no ledger — so they
        join the gate."""
        if "__tvf_" in text:
            return True
        if self.catalogs and any(f"{n}__" in text for n in self.catalogs):
            return True
        return any(
            re.search(rf"\b{re.escape(v)}\b", text, re.IGNORECASE)
            for v in self._catalog_views
        )

    def _rewrite_catalog_refs(self, text: str) -> str:
        """Rewrite ``cat.tbl`` → ``cat__tbl`` for registered catalogs,
        outside string literals AND backtick identifiers (a quoted
        'cat.tbl' is data; a backticked `cat.tbl` is a literal
        identifier). Only names actually REGISTERED in the catalog are
        rewritten, so a table alias that happens to equal a catalog
        name keeps working — ``SELECT extfix.l_suppkey FROM lineitem
        extfix`` is untouched because ``l_suppkey`` is not a table of
        catalog ``extfix``."""
        pats = [
            (
                re.compile(
                    rf"\b{re.escape(n)}\.(?P<t>\w+)\b", re.IGNORECASE
                ),
                n,
                {t.lower() for t in c["tables"]},
            )
            for n, c in self.catalogs.items()
        ]
        parts = re.split(
            r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`[^`]*`)", text
        )
        for i in range(0, len(parts), 2):  # even indices = unquoted spans
            for pat, n, tbls in pats:
                parts[i] = pat.sub(
                    lambda m, n=n, tbls=tbls: (
                        f"{n}__{m.group('t')}"
                        if m.group("t").lower() in tbls
                        else m.group(0)
                    ),
                    parts[i],
                )
        return "".join(parts)

    def _rewrite_variant_subscripts(self, text: str) -> str:
        """Doris 2.1 VARIANT element access ([docs: variant]):
        ``col['k']`` / ``col['a']['b']`` on a column DECLARED as
        VARIANT/JSON on a session table becomes
        ``get_json_object(col, '$.a.b')`` (string-typed, like Doris's
        untyped element — wrap in CAST for typed access). Only known
        variant column names are rewritten, outside string literals and
        backticks, so genuine Spark map/array subscripts on other
        columns pass through untouched."""
        vcols = set()
        for t in self.tables.values():
            vcols |= getattr(t, "_variant_cols", set())
        if not vcols:
            return text
        pat = re.compile(
            r"\b(?P<col>" + "|".join(re.escape(c) for c in sorted(vcols)) +
            # first subscript must be a quoted key (a bare-integer first
            # subscript would collide with array columns named like a
            # variant column on another table); later ones may be
            # integer ARRAY indexes — $.arr[0]
            r")(?P<subs>\s*\[\s*'[^']+'\s*\](?:\s*\[\s*(?:'[^']+'|\d+)\s*\])*)",
            re.IGNORECASE,
        )

        def sub(m):
            path = "$"
            for q, i in re.findall(r"\[\s*(?:'([^']+)'|(\d+))\s*\]",
                                   m.group("subs")):
                path += f"[{i}]" if i else f".{q}"
            return f"get_json_object({m.group('col')}, '{path}')"

        # the subscript's own quoted keys must stay visible to the
        # pattern, so split out only backticks and DOUBLE-quoted
        # literals; a variant name inside a single-quoted literal
        # cannot be followed by an un-escaped ['...'] without first
        # terminating the literal, which breaks the \b..\[ adjacency
        parts = re.split(r"(`[^`]*`|\"(?:[^\"\\]|\\.)*\")", text)
        for i in range(0, len(parts), 2):
            parts[i] = pat.sub(sub, parts[i])
        return "".join(parts)

    def _rewrite_partition_selection(self, text: str) -> str:
        """Doris ``FROM t PARTITION (p1, p2)`` — explicit partition
        selection. Each selected table reference becomes a temp view of
        the merge-on-read view restricted to those partition labels
        (directory-pruned at the scan, same mechanism as Table.scan)."""
        from pyspark.sql import functions as F

        from palo_spark.tables import AUTO_PART_COL

        def sub(m):
            name = m.group("name")
            t = self.tables.get(name.lower())
            if t is None or not (
                t.meta.auto_partition or t.meta.range_partitions
            ):
                raise ValueError(
                    f"PARTITION selection requires a partitioned palo "
                    f"table; {name!r} is not one"
                )
            labels = [p.strip().strip("`") for p in m.group("labels").split(",")]
            known = set(t.partitions())
            if t.meta.range_partitions:
                # declared-but-empty static partitions are selectable
                # (they just contribute zero rows)
                known |= {p["name"] for p in t.meta.range_partitions["parts"]}
            missing = set(labels) - known
            if missing:
                raise ValueError(f"unknown partitions for {name!r}: {sorted(missing)}")
            view = f"{name.lower()}__psel_{abs(hash(tuple(labels))) % 10**8}"
            t.read(partition_pred=F.col(AUTO_PART_COL).isin(labels)).createOrReplaceTempView(view)
            return f"{m.group(1)} {view}"

        return _PART_SEL_RE.sub(sub, text)

    def _create_async_mv(
        self, name: str, body: str, *, build: str, on: str,
        mode: str = "COMPLETE",
    ):
        """Doris 2.1 ASYNC materialized view (`CREATE MATERIALIZED VIEW
        mv BUILD IMMEDIATE REFRESH COMPLETE ON MANUAL AS <query>`,
        [docs: async-materialized-view]): materializes an ARBITRARY
        query — multi-table joins, window functions, external-catalog
        tables — as a parquet snapshot queryable under the MV name.

        Unlike the sync (rollup) form there is no load-time
        maintenance: the snapshot is refreshed explicitly (``REFRESH
        MATERIALIZED VIEW mv``) or on commit, and queried directly —
        the honest staleness contract, which is exactly why this form
        IS allowed over external catalogs where the sync form is
        rejected. ``REFRESH COMPLETE`` always recomputes fully;
        ``REFRESH AUTO`` recomputes PARTITION-INCREMENTALLY when the
        body is partition-aligned (see ``_mv_incremental_info``).
        Fresh snapshots may also transparently answer derivable
        queries (``_try_async_mv_rewrite``).
        ``BUILD DEFERRED`` registers an empty typed snapshot until the
        first refresh. ``ON COMMIT`` re-materializes after every
        session-statement mutation of a referenced session table.

        Scale: refresh cost is one execution of the defining query plus
        a parquet write of its result; reads after that are plain
        snapshot scans (at cluster scale the snapshot directory is the
        exchange — readers never pay the defining joins again)."""
        name = name.lower()
        if name in self.async_mvs:
            raise ValueError(f"materialized view {name!r} already exists")
        if self.rollups is not None and any(
            r.name == name for rs in self.rollups._rollups.values() for r in rs
        ):
            raise ValueError(f"materialized view {name!r} already exists")
        if name in self.tables or name in self.views:
            raise ValueError(f"name {name!r} already taken by a table/view")
        # transitive expansion: an MV body referencing a session VIEW
        # must list the tables the view reads, or ON COMMIT never fires
        # for them (r9 judge finding — same "views hide their base
        # tables" defect shape the r9 result-cache audit fixed)
        refs = sorted(self._expand_view_refs(body)[0])
        root = self.location_root or _tf.gettempdir()
        self.async_mvs[name] = {
            "body": body.strip(),
            "on": on.lower(),
            "built": False,
            "tables": refs,
            "token": 0,
            # creation-time nonce in the result-cache key: DROP MV +
            # CREATE under the same name restarts token at 0, so
            # (name, token) alone would replay the OLD MV's cached
            # results for the new one (same drop/recreate staleness
            # class the table lineage nonce closes)
            "nonce": _uuid.uuid4().hex,
            # REFRESH mode: AUTO may refresh partition-incrementally
            # when the body is partition-aligned; COMPLETE always runs
            # the full recompute ([docs: async-materialized-view])
            "mode": mode.upper(),
            "path": f"{root}/_async_mv/{name}",
        }
        if build == "DEFERRED":
            # queryable as a typed EMPTY snapshot until the first
            # refresh; _sql_nocache keeps this schema-only probe lazy
            # (the cache store path would eagerly collect the full body)
            schema = self._sql_nocache(body).schema
            self.spark.createDataFrame([], schema).createOrReplaceTempView(name)
        else:
            self._refresh_async_mv(name)
        return None

    def _sql_nocache(self, text: str):
        """Run a statement with the result cache bypassed — for internal
        work (MV refresh/build) where sql()'s store path would eagerly
        collect up to cache_row_limit+1 rows only for the caller to
        recompute the query anyway (write path), paying it twice.
        Transparent MV rewrite is also off: a refresh must recompute
        from the bases, never from a (self- or sibling-) snapshot."""
        prev = self.result_cache_enabled
        prev_mvr = self.mv_rewrite_enabled
        self.result_cache_enabled = False
        self.mv_rewrite_enabled = False
        # definer-rights: internal work authorizes as the session's
        # machinery, not the current identity ([docs: privilege] — the
        # FE runs MV/job maintenance with its own authority)
        self._definer_depth += 1
        try:
            return self.sql(text)
        finally:
            self._definer_depth -= 1
            self.result_cache_enabled = prev
            self.mv_rewrite_enabled = prev_mvr

    def _async_mv_state(self, body: str, skip_mv: str | None = None):
        """Freshness basis for the transparent-rewrite gate: the state
        tokens of every session table the MV body reaches (through any
        chain of views) plus the view definitions themselves. Returns
        None — "never provably fresh", so never rewritten onto — when
        the body touches an external catalog (catalog files carry no
        mutation ledger) or another async MV (its refresh isn't in the
        table-token space)."""
        tables, view_pairs = self._expand_view_refs(body)
        expanded = " ".join([body] + [b for _, b in view_pairs])
        if self._text_touches_catalog(expanded):
            return None
        if any(
            n != skip_mv
            and re.search(rf"\b{re.escape(n)}\b", expanded, re.IGNORECASE)
            for n in self.async_mvs
        ):
            return None
        return (
            tuple((n, self.tables[n].state_token()) for n in sorted(tables)),
            tuple(view_pairs),
        )

    def _mv_incremental_info(self, name: str, mv: dict):
        """Partition-incremental refresh eligibility ([docs:
        async-materialized-view] — Doris 2.1 partition refresh: a
        REFRESH AUTO MV whose body aligns with a partitioned base
        recomputes only changed partitions). Alignment here: the body
        is a simple aggregate (the rollup grammar) over ONE
        auto-partitioned session table, reaches no views / catalogs /
        other MVs (their changes live outside the partition-version
        space), every GROUP BY column is selected under its own name,
        and every aggregate is re-mergeable across partition slices
        (SUM / COUNT / MIN / MAX — each merges as SUM or MIN/MAX of
        the per-partition partials). JOIN bodies (r12) take the
        fact-side incremental path when exactly one joined table is
        partitioned (``_mv_join_incremental_info``); a DIM change
        still rebuilds every slice (its state gates the diff), and a
        join with no / several partitioned sides falls back to the
        always-correct full recompute (pinned in
        tests/test_join_mv_rewrite.py). Returns the parsed pieces, or
        None → full recompute."""
        from palo_spark.plans import _parse_simple_agg_sql

        parsed = _parse_simple_agg_sql(translate(mv["body"]))
        if parsed is None:
            # join bodies (r12): fact-side partition-incremental — see
            # _mv_join_incremental_info; anything else → full recompute
            return self._mv_join_incremental_info(name, mv)
        base, group_cols, items, where_text, _ = parsed
        t = self.tables.get(base.lower())
        if t is None:
            return None
        # partition-version diffing needs a partitioned base; STATIC
        # tables qualify too, except while temporary partitions are
        # staged (their labels appear in directory listings but their
        # rows are invisible — version space and data diverge, so the
        # refresh falls back to the always-correct full recompute)
        if not (
            t.meta.auto_partition
            or (
                t.meta.range_partitions
                and not t.meta.range_partitions.get("temp")
            )
        ):
            return None
        _, view_pairs = self._expand_view_refs(mv["body"])
        if view_pairs or self._text_touches_catalog(mv["body"]):
            return None
        if any(
            n != name
            and re.search(rf"\b{re.escape(n)}\b", mv["body"], re.IGNORECASE)
            for n in self.async_mvs
        ):
            return None
        sel_groups = [it["col"] for it in items if it["kind"] == "group"]
        if sorted(sel_groups) != sorted(group_cols):
            return None  # un-selected group col → slices not re-mergeable
        if any(
            it["kind"] == "group" and it["alias"] != it["col"] for it in items
        ):
            return None
        for it in items:
            if it["kind"] != "agg":
                continue
            c = it["measure_names"][0]
            if c != "count_all" and c.split("_", 1)[0] not in (
                "sum", "min", "max", "count"
            ):
                return None
        return {
            "t": t,
            "base": base.lower(),
            "group_cols": group_cols,
            "items": items,
            "where": where_text,
        }

    def _mv_join_incremental_info(self, name: str, mv: dict):
        """Fact-side partition-incremental refresh for JOIN-body MVs
        (r12; [docs: async-materialized-view] — Doris 2.1 partition
        refresh tracks the partitioned base of a join MV): the body is
        an INNER equi-join (the join-agg grammar) over session tables
        of which exactly ONE is partitioned (the fact); slices = the
        body recomputed per fact partition joined against the FULL
        dims. Each joined row belongs to exactly one fact partition,
        so SUM/COUNT/MIN/MAX partials re-merge exactly. Dim changes
        invalidate every slice — `_refresh_async_mv_partitioned`
        records the dims' state tokens + schema sigs and rebuilds all
        slices when any moved (fact-partition diffing alone cannot see
        them). Returns the info dict (single-table shape + a ``join``
        section) or None → full recompute."""
        from palo_spark.plans import _parse_join_agg_sql

        # same preconditions as the single-table path: views, external
        # catalogs, and other MVs live outside the partition-version
        # space this diffing reasons about
        _, view_pairs = self._expand_view_refs(mv["body"])
        if view_pairs or self._text_touches_catalog(mv["body"]):
            return None
        if any(
            n != name
            and re.search(rf"\b{re.escape(n)}\b", mv["body"], re.IGNORECASE)
            for n in self.async_mvs
        ):
            return None
        pj = _parse_join_agg_sql(translate(mv["body"]), self._mv_columns_of)
        if pj is None:
            return None
        tbls = {}
        for tn in pj["tables"]:
            t = self.tables.get(tn)
            if t is None:
                return None
            tbls[tn] = t
        parted = [
            tn for tn, t in tbls.items()
            if t.meta.auto_partition
            or (
                t.meta.range_partitions
                and not t.meta.range_partitions.get("temp")
            )
        ]
        if len(parted) != 1:
            return None  # no partitioned side, or ambiguous
        fact = parted[0]
        items, group_cols = [], []
        for it in pj["items"]:
            if it["kind"] == "group":
                items.append({
                    "kind": "group", "col": it["alias"],
                    "alias": it["alias"], "ref": it["ref"],
                })
                group_cols.append(it["alias"])
            else:
                if it["func"] not in ("sum", "count", "min", "max"):
                    return None  # AVG etc — not re-mergeable partials
                canon = (
                    "count_all" if it["ref"] is None
                    else f"{it['func']}_{it['ref'][1]}"
                )
                items.append({
                    "kind": "agg", "measure_names": [canon],
                    "alias": it["alias"], "func": it["func"],
                    "ref": it["ref"],
                })
        if not group_cols:
            return None  # global aggregate — one slice merge is moot
        return {
            "t": tbls[fact],
            "base": fact,
            "group_cols": group_cols,
            "items": items,
            "where": pj["where"],
            "join": {
                "pj": pj,
                "fact": fact,
                "dims": sorted(pj["tables"] - {fact}),
            },
        }

    @staticmethod
    def _table_schema_sig(t: Table) -> str:
        """Schema-change fingerprint: incremental refresh may only mix
        old snapshot slices with new ones computed under the SAME
        light-schema-change history (a rename/add/drop/retype changes
        what identical body text computes)."""
        return _json.dumps(
            [
                t.meta.schema_adds,
                t.meta.schema_drops,
                t.meta.schema_renames,
                sorted(t.meta.schema_retypes.items()),
                t.meta.lineage,
            ],
            default=str,
        )

    def _mv_slice_df(self, info: dict, labels=None):
        """The MV body recomputed per base partition: same grammar-
        reconstructed aggregate, additionally grouped by the partition
        LABEL (derived from the partition column exactly as the write
        path derives directory names). ``labels`` restricts the scan to
        those partitions — directory-pruned at the rowset scans, which
        is the entire point: a 100 TB table pays only for the changed
        partitions. Returns (df, temp_view_name)."""
        from pyspark.sql import functions as F

        from palo_spark.tables import AUTO_PART_COL, AUTO_PART_FMT

        t = info["t"]
        ap = t.meta.auto_partition
        pred = (
            F.col(AUTO_PART_COL).isin(list(labels))
            if labels is not None
            else None
        )
        view = f"__mvinc_{info['base']}_{_uuid.uuid4().hex[:8]}"
        t.read(partition_pred=pred).createOrReplaceTempView(view)
        if info.get("join") is not None:
            return self._mv_join_slice_df(info, view), view
        rp = t.meta.range_partitions
        if ap is None and rp is not None:
            # STATIC partitioning: the label is the declared partition
            # name, reconstructed as a CASE over the declared bounds /
            # value sets (textual twin of Table.partition_label_expr)
            whens = []
            for p in rp["parts"]:
                if rp.get("kind") == "list":
                    cond = f"`{rp['col']}` IN ({', '.join(p['values'])})"
                else:
                    cs = []
                    if p.get("lower") is not None:
                        cs.append(f"`{rp['col']}` >= {p['lower']}")
                    if p["upper"] is not None:
                        cs.append(f"`{rp['col']}` < {p['upper']}")
                    cond = " AND ".join(cs) or "TRUE"
                whens.append(f"WHEN {cond} THEN '{p['name']}'")
            label_sql = "CASE " + " ".join(whens) + " END"
        elif ap["granularity"] == "list":
            label_sql = f"concat('l', cast(`{ap['col']}` as string))"
        else:
            label_sql = (
                f"concat('{ap['granularity'][0]}', date_format(cast(`{ap['col']}`"
                f" as timestamp), '{AUTO_PART_FMT[ap['granularity']]}'))"
            )
        sel = [f"{label_sql} AS __mv_part"]
        gb = ["__mv_part"]
        for it in info["items"]:
            if it["kind"] == "group":
                sel.append(f"`{it['col']}`")
                gb.append(f"`{it['col']}`")
            else:
                c = it["measure_names"][0]
                if c == "count_all":
                    expr = "COUNT(*)"
                else:
                    func, arg = c.split("_", 1)
                    expr = f"{func.upper()}(`{arg}`)"
                sel.append(f"{expr} AS `{it['alias']}`")
        q = f"SELECT {', '.join(sel)} FROM {view}"
        if info["where"]:
            q += f" WHERE {info['where']}"
        q += " GROUP BY " + ", ".join(gb)
        return self.spark.sql(q), view

    def _mv_join_slice_df(self, info: dict, view: str):
        """The JOIN body recomputed per FACT partition: the body's own
        FROM text with the fact table swapped for the (directory-
        pruned) ``view``, additionally grouped by the fact-partition
        LABEL. Dim scans are the full session temp views — each joined
        row lands in exactly one fact partition, so the per-slice
        partials re-merge exactly. Texts here are POST-translate
        (the info parse ran on ``translate(body)``), so this composes
        plain Spark SQL."""
        from palo_spark.tables import AUTO_PART_FMT

        j = info["join"]
        pj, fact = j["pj"], j["fact"]
        t = info["t"]
        alias_of = {tb: a for a, tb in pj["alias_map"].items()}
        fa = alias_of[fact]
        # fact-partition label, qualified with the body's fact alias
        ap = t.meta.auto_partition
        rp = t.meta.range_partitions
        qcol = lambda c: f"`{fa}`.`{c}`"  # noqa: E731
        if ap is None and rp is not None:
            whens = []
            for p in rp["parts"]:
                if rp.get("kind") == "list":
                    cond = f"{qcol(rp['col'])} IN ({', '.join(p['values'])})"
                else:
                    cs = []
                    if p.get("lower") is not None:
                        cs.append(f"{qcol(rp['col'])} >= {p['lower']}")
                    if p["upper"] is not None:
                        cs.append(f"{qcol(rp['col'])} < {p['upper']}")
                    cond = " AND ".join(cs) or "TRUE"
                whens.append(f"WHEN {cond} THEN '{p['name']}'")
            label_sql = "CASE " + " ".join(whens) + " END"
        elif ap["granularity"] == "list":
            label_sql = f"concat('l', cast({qcol(ap['col'])} as string))"
        else:
            label_sql = (
                f"concat('{ap['granularity'][0]}', "
                f"date_format(cast({qcol(ap['col'])} as timestamp), "
                f"'{AUTO_PART_FMT[ap['granularity']]}'))"
            )
        # FROM text with the fact table name swapped for the pruned
        # view; a fact written without an alias keeps its name as the
        # alias so qualified references still resolve
        repl = view if fa != fact else f"{view} `{fact}`"
        frm = re.sub(
            rf"\b`?{re.escape(fact)}`?\b", repl, pj["frm_text"], count=1,
            flags=re.IGNORECASE,
        )
        qual = {}
        for tb, a in alias_of.items():
            qual[tb] = a
        sel = [f"{label_sql} AS __mv_part"]
        gb = ["`__mv_part`"]
        for it in info["items"]:
            if it["kind"] == "group":
                tb, c = it["ref"]
                sel.append(f"`{qual[tb]}`.`{c}` AS `{it['alias']}`")
                gb.append(f"`{qual[tb]}`.`{c}`")
            elif it["ref"] is None:
                sel.append(f"COUNT(*) AS `{it['alias']}`")
            else:
                tb, c = it["ref"]
                sel.append(
                    f"{it['func'].upper()}(`{qual[tb]}`.`{c}`) "
                    f"AS `{it['alias']}`"
                )
        q = f"SELECT {', '.join(sel)} FROM {frm}"
        if info["where"]:
            q += f" WHERE {info['where']}"
        q += " GROUP BY " + ", ".join(gb)
        return self.spark.sql(q)

    def _register_async_mv_parts(self, name: str, mv: dict, info: dict):
        """Register the MV name as the MERGE of the per-partition
        slices: one scan of the (pre-aggregated, partition-laid-out)
        snapshot plus a re-merge keyed on the group columns — SUM and
        COUNT partials merge as SUM, MIN/MAX as MIN/MAX (the same
        merge a Doris rollup read performs)."""
        from pyspark.sql import functions as F

        parts_dir = mv["path"] + "_parts"
        has_parts = os.path.isdir(parts_dir) and any(
            e.startswith("__mv_part=") for e in os.listdir(parts_dir)
        )
        if not has_parts:
            schema = self._sql_nocache(mv["body"]).schema
            self.spark.createDataFrame([], schema).createOrReplaceTempView(name)
            return
        df = self.spark.read.parquet(parts_dir)
        aggs = []
        for it in info["items"]:
            if it["kind"] != "agg":
                continue
            c = it["measure_names"][0]
            fn = (
                F.min if c.startswith("min_")
                else F.max if c.startswith("max_")
                else F.sum
            )
            aggs.append(fn(F.col(it["alias"])).alias(it["alias"]))
        merged = df.groupBy(*info["group_cols"]).agg(*aggs)
        sel = [F.col(it["alias"]) for it in info["items"]]
        merged.select(*sel).createOrReplaceTempView(name)

    def _refresh_async_mv_partitioned(
        self, name: str, mv: dict, info: dict
    ) -> None:
        """Partition-incremental refresh: diff the base's per-partition
        versions against the snapshot's recorded map, recompute ONLY
        the stale/new partitions (directory-pruned scan), swap their
        slice directories in place, and drop slices whose base
        partition disappeared. Falls back to a full per-partition
        rebuild when there is no usable prior state (first build,
        schema-change history moved, snapshot dir missing)."""
        t = info["t"]
        t._sync_meta()
        cur = t.partition_versions()
        sig = self._table_schema_sig(t)
        parts_dir = mv["path"] + "_parts"
        prev = mv.get("part_versions")
        # join bodies (r12): a DIM change invalidates EVERY slice —
        # fact-partition diffing cannot see it, so the dims' state
        # tokens + schema sigs gate the incremental path
        dim_state = None
        if info.get("join") is not None:
            dim_state = tuple(
                (
                    d,
                    self.tables[d].state_token(),
                    self._table_schema_sig(self.tables[d]),
                )
                for d in info["join"]["dims"]
            )
        rebuild = (
            prev is None
            or mv.get("schema_sig") != sig
            or not os.path.isdir(parts_dir)
            or mv.get("dim_state") != dim_state
        )
        if rebuild:
            stale = sorted(cur)
            dropped = []
        else:
            stale = sorted(l for l, v in cur.items() if prev.get(l) != v)
            dropped = sorted(l for l in prev if l not in cur)
        view = None
        try:
            if rebuild:
                if cur:
                    df, view = self._mv_slice_df(info)
                    tmp = parts_dir + ".__tmp"
                    df.write.partitionBy("__mv_part").mode(
                        "overwrite"
                    ).parquet(tmp)
                    _sh.rmtree(parts_dir, ignore_errors=True)
                    os.replace(tmp, parts_dir)
                else:
                    _sh.rmtree(parts_dir, ignore_errors=True)
                    os.makedirs(parts_dir, exist_ok=True)
            elif stale or dropped:
                if stale:
                    df, view = self._mv_slice_df(info, labels=stale)
                    tmp = parts_dir + ".__tmp"
                    df.write.partitionBy("__mv_part").mode(
                        "overwrite"
                    ).parquet(tmp)
                    # per-partition directory swap (what Doris's
                    # partition replace does): only changed slices move
                    for lbl in stale:
                        src = os.path.join(tmp, f"__mv_part={lbl}")
                        dst = os.path.join(parts_dir, f"__mv_part={lbl}")
                        _sh.rmtree(dst, ignore_errors=True)
                        if os.path.isdir(src):
                            os.replace(src, dst)
                    _sh.rmtree(tmp, ignore_errors=True)
                for lbl in dropped:
                    _sh.rmtree(
                        os.path.join(parts_dir, f"__mv_part={lbl}"),
                        ignore_errors=True,
                    )
        finally:
            if view is not None:
                self.spark.catalog.dropTempView(view)
            # a failed slice write must not leak its staging dir (the
            # full-recompute fallback would otherwise strand it)
            _sh.rmtree(parts_dir + ".__tmp", ignore_errors=True)
        mv["part_versions"] = cur
        mv["schema_sig"] = sig
        mv["dim_state"] = dim_state
        mv["token"] += 1
        mv["built"] = True
        self._register_async_mv_parts(name, mv, info)
        mv["snapshot_state"] = self._async_mv_state(mv["body"], skip_mv=name)
        # a whole-snapshot dir from an earlier non-incremental refresh
        # of this MV is dead weight now
        import glob as _glob

        for d in _glob.glob(mv["path"] + "_v*"):
            _sh.rmtree(d, ignore_errors=True)

    def _refresh_async_mv(self, name: str) -> None:
        mv = self.async_mvs[name]
        if mv.get("_refreshing"):
            # re-entrancy guard: the refresh itself runs sql() on the
            # body, whose convergence sweep can re-fire the ON COMMIT
            # hook for the same MV — the inner call must be a no-op or
            # the two passes interleave token bumps and delete the
            # snapshot dir the other just registered
            return
        mv["_refreshing"] = True
        try:
            self._refresh_async_mv_inner(name, mv)
        finally:
            mv.pop("_refreshing", None)

    def _refresh_async_mv_inner(self, name: str, mv: dict) -> None:
        if mv.get("mode", "COMPLETE") == "AUTO":
            info = self._mv_incremental_info(name, mv)
            if info is not None:
                try:
                    self._refresh_async_mv_partitioned(name, mv, info)
                    return
                except Exception:
                    # the incremental path must never cost correctness:
                    # any failure falls back to the always-correct full
                    # recompute below
                    pass
        staged = mv["path"] + f"_v{mv['token'] + 1}"
        self._sql_nocache(mv["body"]).write.mode("overwrite").parquet(staged)
        self.spark.read.parquet(staged).createOrReplaceTempView(name)
        old = mv["path"] + f"_v{mv['token']}"
        mv["token"] += 1
        mv["built"] = True
        # transparent rewrite serves this snapshot only while every
        # reached base token still equals what it is NOW
        mv["snapshot_state"] = self._async_mv_state(mv["body"], skip_mv=name)
        _sh.rmtree(old, ignore_errors=True)
        # stale per-partition layout from an earlier incremental
        # refresh must not shadow the fresh whole snapshot
        _sh.rmtree(mv["path"] + "_parts", ignore_errors=True)
        mv.pop("part_versions", None)
        mv.pop("dim_state", None)

    def _commit_async_mvs(self, table: str) -> None:
        """ON COMMIT refresh hook: re-materialize every async MV whose
        defining query reaches the mutated session table. Reachability
        is resolved AT COMMIT TIME through the current view definitions
        (``_expand_view_refs``), so an MV over a view follows the view's
        bases, and a replaced view re-binds the trigger set to its new
        bases — create-time snapshots of either would go stale."""
        for n, mv in list(self.async_mvs.items()):
            if mv["on"] != "commit":
                continue
            reached, _ = self._expand_view_refs(mv["body"])
            if table in reached:
                mv["tables"] = sorted(reached)  # keep SHOW MV display fresh
                self._refresh_async_mv(n)

    def _try_async_mv_rewrite(self, text: str):
        """Doris 2.1 Nereids transparent async-MV rewrite
        ([docs: async-materialized-view] — ``enable_materialized_view_
        rewrite``): answer a query from a registered async MV's
        snapshot when BOTH hold:

        (a) derivability — the query text is the MV body verbatim
            (modulo whitespace/case), or it is a simple aggregate
            (the sync-rollup grammar) over the same base whose group
            columns, filter columns, and aggregates the MV's own
            grouped body covers (SUM/COUNT re-aggregate as SUM over
            the snapshot, MIN/MAX as MIN/MAX, AVG(x) derives as
            SUM(sum_x)/SUM(count_x) when the MV stores that pair —
            classic rollup derivation);
        (b) freshness — the state token of every session table the
            body reaches still equals the one recorded when the
            snapshot was materialized. A stale snapshot NEVER
            rewrites (the query silently falls back to the bases),
            so the transparent path cannot produce a wrong answer;
            only explicit ``SELECT ... FROM mv`` keeps the honest
            staleness contract.

        Scale: a hit replaces the defining join/aggregate with one
        scan of the (pre-aggregated, much smaller) snapshot — at
        cluster scale this is the entire point of async MVs."""
        from pyspark.sql import functions as F

        from palo_spark.plans import _parse_simple_agg_sql

        def norm(s: str) -> str:
            return re.sub(r"\s+", " ", s.strip().rstrip(";").strip()).lower()

        qn = norm(text)
        # a parquet snapshot does not preserve row order, so an exact
        # match on a body ending in ORDER BY would return the right
        # ROWS in the wrong ORDER — conservatively never exact-rewrite
        # ordered/limited text (the coverage grammar already excludes
        # both)
        orderish = " order by " in qn or " limit " in qn
        ttext = translate(text)
        qparsed = _parse_simple_agg_sql(ttext)
        qjoin = None
        if qparsed is None:
            # join-body path (r12): a query whose FROM is the same
            # INNER equi-join subtree as an MV body may derive from
            # the joined snapshot — parsed once per statement
            from palo_spark.plans import _parse_join_agg_sql

            qjoin = _parse_join_agg_sql(ttext, self._mv_columns_of)
        join_hits: list = []  # (n_dims, name, df) — cheapest cover wins
        for name, mv in sorted(self.async_mvs.items()):
            if not mv.get("built"):
                continue
            state = mv.get("snapshot_state")
            if state is None or state != self._async_mv_state(
                mv["body"], skip_mv=name
            ):
                continue  # stale (or unprovable) → no rewrite, use bases
            if not orderish and norm(mv["body"]) == qn:
                self.last_mv_rewrite = name
                return self.spark.table(name)
            if qparsed is None:
                if qjoin is not None:
                    out = self._derive_join_mv(name, mv, qjoin)
                    if out is not None:
                        # keep looking: prefer the MV with the FEWEST
                        # stored dims (smallest snapshot — the rollup
                        # catalog's cheapest-cover rule)
                        join_hits.append((out[1], name, out[0]))
                continue
            mvp = _parse_simple_agg_sql(translate(mv["body"]))
            if mvp is None:
                continue
            mbase, _mgroup, mitems, mwhere, _ = mvp
            qbase, qgroup, qitems, qwhere, qwcols = qparsed
            if mwhere is not None or qbase.lower() != mbase.lower():
                continue
            # group columns usable from the snapshot: selected in the MV
            # body under their own name (an aliased dim would need
            # predicate rewriting — skip, the base path stays correct)
            dims = {
                it["col"]
                for it in mitems
                if it["kind"] == "group" and it["alias"] == it["col"]
            }
            if not (set(qgroup) <= dims and set(qwcols) <= dims):
                continue
            # every query aggregate must be derivable from a stored one
            stored = {
                it["measure_names"][0]: it["alias"]
                for it in mitems
                if it["kind"] == "agg"
            }
            derived = []
            ok = True
            for it in qitems:
                if it["kind"] == "group":
                    derived.append(F.col(it["col"]).alias(it["alias"]))
                    continue
                canon = it["measure_names"][0]
                if canon.startswith("avg_"):
                    # AVG derives from a stored SUM + COUNT pair over
                    # the SAME column (count_col is the null-aware
                    # count AVG needs; count_all would miscount NULLs)
                    mcol = canon[4:]
                    s = stored.get(f"sum_{mcol}")
                    cnt = stored.get(f"count_{mcol}")
                    if s is None or cnt is None:
                        ok = False
                        break
                    derived.append(
                        (F.sum(F.col(s)) / F.sum(F.col(cnt))).alias(
                            it["alias"]
                        )
                    )
                    continue
                col = stored.get(canon)
                if col is None:
                    ok = False
                    break
                func = F.min if canon.startswith("min_") else (
                    F.max if canon.startswith("max_") else F.sum
                )
                derived.append(func(F.col(col)).alias(it["alias"]))
            if not ok:
                continue
            aggs = [d for d, it in zip(derived, qitems) if it["kind"] == "agg"]
            if not aggs:
                continue  # dims-only SELECT — not a rollup shape
            df = self.spark.table(name)
            if qwhere:
                df = df.filter(F.expr(qwhere))
            out = df.groupBy(*qgroup).agg(*aggs)
            sel = [
                F.col(it["alias"] if it["kind"] == "agg" else it["col"])
                .alias(it["alias"])
                for it in qitems
            ]
            self.last_mv_rewrite = name
            return out.select(*sel)
        if join_hits:
            _, best, df = min(join_hits)
            self.last_mv_rewrite = best
            return df
        return None

    def _mv_columns_of(self, tname: str):
        """Column resolver for the join-agg parser: the session's view
        of ``tname`` (session tables / views register temp views) —
        catalog metadata only, no job. None for unknown names."""
        try:
            return set(self.spark.table(tname).columns)
        except Exception:
            return None

    @staticmethod
    def _canon_join_pred(pj: dict) -> str:
        """Alias-insensitive canonical form of a parsed join-query's
        WHERE text: qualifiers rewritten to table names, backticks
        dropped, whitespace/case folded — so the MV body's filter and
        the query's compare equal regardless of alias spelling.
        String literals are left untouched."""
        parts = re.split(r"('(?:[^']|'')*')", pj["where"])
        for i in range(0, len(parts), 2):
            s = parts[i].replace("`", "")
            for alias, tbl in pj["alias_map"].items():
                s = re.sub(
                    rf"\b{re.escape(alias)}\s*\.\s*", tbl + ".", s,
                    flags=re.IGNORECASE,
                )
            parts[i] = s
        return re.sub(r"\s+", " ", "".join(parts)).strip().lower()

    @staticmethod
    def _pred_to_snapshot(qj: dict, dims: dict) -> str | None:
        """Rewrite the query's residual WHERE onto the MV snapshot's
        column names: every (table, col) dim reference — qualified by
        alias or table name, or bare — becomes the snapshot alias.
        Returns None when a bare name is ambiguous across dims (two
        joined tables sharing a column name); the caller then declines
        the rewrite rather than guessing."""
        qual_map: dict[tuple, str] = {}
        bare_map: dict[str, set] = {}
        for (tbl, col), snap in dims.items():
            qual_map[(tbl, col)] = snap
            for alias, t2 in qj["alias_map"].items():
                if t2 == tbl:
                    qual_map[(alias, col)] = snap
            bare_map.setdefault(col, set()).add(snap)
        ambiguous = False

        def bare_sub(mm):
            nonlocal ambiguous
            snaps = bare_map.get(mm.group(0).lower())
            if snaps is None:
                return mm.group(0)
            if len(snaps) != 1:
                ambiguous = True
                return mm.group(0)
            return f"`{next(iter(snaps))}`"

        parts = re.split(r"('(?:[^']|'')*')", qj["where"])
        for i in range(0, len(parts), 2):
            s = parts[i]
            for (q, c), snap in qual_map.items():
                s = re.sub(
                    rf"\b`?{re.escape(q)}`?\s*\.\s*`?{re.escape(c)}`?\b",
                    f"`{snap}`", s, flags=re.IGNORECASE,
                )
            s = re.sub(r"(?<![\w.`'])[A-Za-z_]\w*(?![\w.(])", bare_sub, s)
            parts[i] = s
        return None if ambiguous else "".join(parts)

    def _derive_join_mv(self, name: str, mv: dict, qj: dict):
        """Join-aware transparent rewrite (r12; [docs:
        async-materialized-view] — upstream Nereids matches a query's
        join subtree against MVs whose body itself joins fact x dim):
        the query derives from ``name``'s snapshot when

        - its FROM is the SAME table set under the SAME INNER equi-join
          keys (alias-insensitive, matched as (table, column) pairs);
        - the MV body's WHERE, if any, equals the query's (canonical
          text compare) — otherwise the MV is unfiltered and the query
          WHERE references only snapshot dims (residual filter);
        - every query group/filter column is a stored MV dim, and every
          aggregate derives from a stored one (SUM/COUNT re-aggregate
          as SUM, MIN/MAX as themselves, AVG from the SUM+COUNT pair
          over the same column) — the coarser-group residual path.

        A hit replaces the defining join with ONE scan of the
        (pre-joined, pre-aggregated) snapshot — at cluster scale the
        fact-side shuffle disappears entirely. Returns ``(df, n_dims)``
        — the stored-dim count lets the caller prefer the smallest
        covering snapshot — or None (callers fall back to the bases,
        which is always correct)."""
        from pyspark.sql import functions as F

        from palo_spark.plans import _parse_join_agg_sql

        mvj = _parse_join_agg_sql(
            translate(mv["body"]), self._mv_columns_of
        )
        if mvj is None:
            return None
        if (
            mvj["tables"] != qj["tables"]
            or mvj["join_keys"] != qj["join_keys"]
        ):
            return None
        dims = {
            it["ref"]: it["alias"]
            for it in mvj["items"]
            if it["kind"] == "group"
        }
        residual = None
        if mvj["where"] is not None:
            if qj["where"] is None or self._canon_join_pred(
                mvj
            ) != self._canon_join_pred(qj):
                return None
        elif qj["where"] is not None:
            if not set(qj["where_refs"]) <= set(dims):
                return None
            residual = self._pred_to_snapshot(qj, dims)
            if residual is None:
                return None
        if not all(ref in dims for ref in qj["group_refs"]):
            return None
        stored = {
            (it["func"], it["ref"]): it["alias"]
            for it in mvj["items"]
            if it["kind"] == "agg"
        }
        plan = []  # (kind, source, out_alias)
        for it in qj["items"]:
            if it["kind"] == "group":
                snap = dims.get(it["ref"])
                if snap is None:
                    return None
                plan.append(("group", snap, it["alias"]))
                continue
            f, ref = it["func"], it["ref"]
            if f == "avg":
                s, c = stored.get(("sum", ref)), stored.get(("count", ref))
                if s is None or c is None:
                    return None
                plan.append(("avg", (s, c), it["alias"]))
            elif f in ("sum", "count", "min", "max"):
                col = stored.get((f, ref))
                if col is None:
                    return None
                # SUM and COUNT partials both re-merge as SUM
                plan.append(("sum" if f == "count" else f, col, it["alias"]))
            else:
                return None
        if not any(k != "group" for k, _, _ in plan):
            return None  # dims-only SELECT — not a rollup shape
        df = self.spark.table(name)
        if residual:
            df = df.filter(F.expr(residual))
        gb = [src for k, src, _ in plan if k == "group"]
        aggs = []
        for k, src, alias in plan:
            if k == "group":
                continue
            if k == "avg":
                aggs.append(
                    (F.sum(F.col(src[0])) / F.sum(F.col(src[1]))).alias(alias)
                )
            else:
                aggs.append(getattr(F, k)(F.col(src)).alias(alias))
        out = df.groupBy(*gb).agg(*aggs)
        sel = [
            F.col(src if k == "group" else alias).alias(alias)
            for k, src, alias in plan
        ]
        return out.select(*sel), len(dims)

    def _create_mv(self, mv_name: str, body: str):
        """Doris ``CREATE MATERIALIZED VIEW mv AS SELECT <dims>, <aggs>
        FROM base GROUP BY <dims>`` — registers a rollup in the
        RollupCatalog (created on demand) so subsequent session queries
        are transparently answered from it, and, when the base is a
        palo table, attaches load-time maintenance (apply_delta on
        DUPLICATE/AGGREGATE loads, refresh on UNIQUE)."""
        from palo_spark.plans import Measure, RollupCatalog, _parse_simple_agg_sql

        parsed = _parse_simple_agg_sql(translate(body.strip()))
        if parsed is None:
            raise ValueError(
                "unsupported MATERIALIZED VIEW shape (need SELECT dims + "
                "SUM/COUNT/MIN/MAX aggs FROM base GROUP BY dims): "
                f"{body!r}"
            )
        base, group_cols, items, where_text, _ = parsed
        if where_text:
            raise ValueError("MATERIALIZED VIEW WHERE clauses are unsupported")
        if any(
            nm.startswith("avg_")
            for it in items
            if it["kind"] == "agg"
            for nm in it["measure_names"]
        ):
            # AVG is not re-aggregable across loads — upstream's rollup
            # guidance is to store SUM + COUNT instead (the rewrite
            # derives AVG from them transparently)
            raise ValueError(
                "AVG is not a storable rollup measure: store SUM(col) "
                "and COUNT(col) in the materialized view instead — "
                "queries asking AVG(col) are answered from that pair"
            )
        # synchronous MVs exist only on internal OLAP tables (upstream:
        # external tables support ASYNC MVs with explicit refresh).
        # Building one over an external-catalog table would snapshot the
        # files with NO maintenance trigger — after REFRESH CATALOG the
        # rewrite path kept serving pre-refresh aggregates (r9
        # interaction audit, wrong-answer repro) — so reject instead.
        if self.catalogs and any(
            base.lower().startswith(f"{n}__") for n in self.catalogs
        ):
            raise ValueError(
                "synchronous materialized views are not supported over "
                f"external-catalog tables ({base!r}): the catalog files "
                "have no load hook to maintain the MV; query the table "
                "directly or materialize it into a session table first"
            )
        measures: list[Measure] = []
        seen: set[str] = set()

        def _add(kind: str, col=None):
            m = Measure(kind, col)
            if m.name not in seen:
                seen.add(m.name)
                measures.append(m)

        for it in items:
            if it["kind"] != "agg":
                continue
            for nm in it["measure_names"]:
                kind, _, col = nm.partition("_")
                _add(kind, None if kind == "count" else col)
        if not measures:
            raise ValueError("MATERIALIZED VIEW needs at least one aggregate")
        if self.rollups is None:
            root = (
                f"{self.location_root}/_rollups" if self.location_root else None
            )
            self.rollups = RollupCatalog(self.spark, root=root)
        bl = base.lower()
        if bl in self.tables:
            t = self.tables[bl]
            df = self._table_df(t)
            if df is None:
                raise ValueError(
                    f"cannot create MV on {base!r}: empty table with no "
                    "declared schema"
                )
            # empty-safe: Doris allows an MV on an empty table (the
            # store builds empty and fills on the first load)
            self.rollups.register_base(base, df)
            # attach load-time maintenance ONCE per TABLE OBJECT:
            # attach_table appends an _on_insert callback, and
            # apply_delta already fans out to every rollup of the base —
            # a second callback would double-apply every delta. The
            # guard rides the object, NOT the name (r11 fuzz hunt, seed
            # 19): a name-keyed set skipped re-attach after an in-place
            # RESTORE swapped in a fresh Table (empty hook list → MV
            # silently stopped maintaining), and would double-attach after
            # RENAME + CREATE MV (same object, new name).
            if not getattr(t, "_mv_hooked", False):
                self.rollups.attach_table(base, t)
                t._mv_hooked = True  # type: ignore[attr-defined]
        else:
            self.rollups.register_base(base, self.spark.table(base))
        return self.rollups.add_rollup(mv_name, base, group_cols, measures)

    def _refresh_index(
        self,
        name: str,
        col: str,
        path: str,
        kind: str = "INVERTED",
        gram_size: int = 0,
    ) -> None:
        """(Re)build the posting index for (table, col) if the corpus
        changed (fingerprint no-op otherwise) — Doris's load-time index
        maintenance, done lazily at DDL + query time. ``kind`` selects
        the posting key: word tokens (INVERTED), character n-grams
        (NGRAM_BF), or whole values (BITMAP / bloom_filter_columns)."""
        from palo_spark.operators.text_index import (
            build_gram_index,
            build_text_index,
        )

        t = self._table(name)
        id_col = t.meta.key_cols[0]
        # freshness = (creation nonce, mutation counter) — O(1)
        # metadata, no corpus scan on the query path. The nonce is
        # load-bearing: a DROP + re-CREATE (or another run's table of
        # the same name) restarts the counter, and a bare counter
        # would let a stale index of the OLD lineage pass as current
        # (caught by the sf0.001 sweep in r6).
        version = f"{t.meta.lineage}:{t.meta.mutations}"
        if kind == "INVERTED":
            build_text_index(
                self.spark.table(name),
                path,
                text_col=col,
                id_col=id_col,
                skip_if_current=True,
                version=version,
            )
        else:
            build_gram_index(
                self.spark.table(name),
                path,
                col=col,
                id_col=id_col,
                gram_size=gram_size if kind == "NGRAM_BF" else 0,
                skip_if_current=True,
                version=version,
            )

    def _try_indexed_match(self, text: str) -> str | None:
        """If ``text`` is a single-table query with exactly ONE infix
        MATCH predicate over an inverted-indexed column, resolve the
        predicate through the posting index and return the query text
        with the predicate replaced by an id semi-join against the hit
        set (identical semantics — the index is acceleration only, and
        every non-conforming shape falls through to the full-scan
        translation). Returns None when the index route doesn't apply."""
        preds = list(_MATCH_PRED_RE.finditer(text))
        if len(preds) != 1:
            return None
        # same single-table contract as _single_indexed_pred: a JOIN
        # (self-joins included) would leave the spliced unqualified key
        # column ambiguous
        if re.search(r"\bJOIN\b", text, re.IGNORECASE) or re.search(
            r"\bFROM\s+`?\w+`?\s*(?:\w+\s*)?,", text, re.IGNORECASE
        ):
            return None
        tbls = set(m.group(1).lower() for m in _FROM_TBL_RE.finditer(text))
        if len(tbls) != 1:
            return None
        (tbl,) = tbls
        col = preds[0].group("col")
        hit = next(
            (
                (t_, c_, p_)
                for (t_, c_, p_, k_, _g) in self.indexes.values()
                if t_ == tbl and c_ == col and k_ == "INVERTED"
            ),
            None,
        )
        if hit is None or tbl not in self.tables:
            return None
        from palo_spark.operators.text_index import (
            match_all_indexed,
            match_any_indexed,
            match_phrase_indexed,
        )

        _, _, path = hit
        self._refresh_index(tbl, col, path)
        t = self._table(tbl)
        id_col = t.meta.key_cols[0]
        op = preds[0].group("op").lower()
        query = preds[0].group("q")[1:-1]
        fn = {
            "match": match_any_indexed,  # bare MATCH = MATCH_ANY (Doris)
            "match_any": match_any_indexed,
            "match_all": match_all_indexed,
            "match_phrase": match_phrase_indexed,
        }[op]
        corpus = self.spark.table(tbl)
        kw = {"text_col": col} if op == "match_phrase" else {}
        fn(corpus, path, query, id_col=id_col, **kw).select(
            id_col
        ).createOrReplaceTempView("__palo_match_hits")
        self.last_match_indexed = True
        return (
            text[: preds[0].start()]
            + f"`{id_col}` IN (SELECT `{id_col}` FROM __palo_match_hits)"
            + text[preds[0].end() :]
        )

    def _single_indexed_pred(self, text: str, pred_re, kinds: tuple):
        """Shared gate for the NGRAM_BF / BITMAP rewrite routes: the
        query must be single-table with exactly ONE predicate matching
        ``pred_re`` after its WHERE, over a column carrying an index of
        one of ``kinds``. Returns (match, table, index-tuple) or None —
        every non-conforming shape falls through to the full scan, so
        the index is acceleration only."""
        wm = re.search(r"\bWHERE\b", text, re.IGNORECASE)
        if wm is None:
            return None
        preds = [
            p for p in pred_re.finditer(text) if p.start() >= wm.start()
        ]
        if len(preds) != 1:
            return None
        # a NOT directly before the predicate would bind OUTSIDE the
        # spliced conjunct — (NOT P) AND Q, not NOT (P AND Q) — so the
        # route must refuse the negated form
        if re.search(r"\bNOT\s*$", text[: preds[0].start()], re.IGNORECASE):
            return None
        # single-table means truly single-table: a JOIN (even a
        # self-join, where the FROM-name set still has size 1) would
        # make the spliced unqualified key column ambiguous
        if re.search(r"\bJOIN\b", text, re.IGNORECASE) or re.search(
            r"\bFROM\s+`?\w+`?\s*(?:\w+\s*)?,", text, re.IGNORECASE
        ):
            return None
        tbls = set(m.group(1).lower() for m in _FROM_TBL_RE.finditer(text))
        if len(tbls) != 1:
            return None
        (tbl,) = tbls
        col = preds[0].group("col")
        hit = next(
            (
                v
                for v in self.indexes.values()
                if v[0] == tbl and v[1] == col and v[3] in kinds
            ),
            None,
        )
        if hit is None or tbl not in self.tables:
            return None
        return preds[0], tbl, hit

    def _try_indexed_like(self, text: str) -> str | None:
        """NGRAM_BF route ([docs: ngram-bloomfilter-index]): a single
        infix ``col LIKE '%needle%'`` predicate over an NGRAM_BF-indexed
        column resolves through the gram posting index — candidate ids
        are rows containing EVERY gram of the needle (a superset of the
        true matches), spliced in as an ADDED conjunct so the original
        LIKE re-verifies the survivors. Prune -> verify: exactness never
        depends on the index. Returns None when the route doesn't apply
        (non-infix pattern, inner wildcards, needle shorter than
        gram_size, multi-table, ...)."""
        got = self._single_indexed_pred(text, _LIKE_PRED_RE, ("NGRAM_BF",))
        if got is None:
            return None
        pred, tbl, (_, _, path, _, gram_size) = got
        pat = pred.group("pat")
        if not (pat.startswith("%") and pat.endswith("%")):
            return None
        needle = pat[1:-1]
        if (
            len(needle) < max(gram_size, 1)
            or any(ch in needle for ch in "%_\\")
        ):
            return None
        col = pred.group("col")
        self._refresh_index(tbl, col, path, "NGRAM_BF", gram_size)
        from palo_spark.operators.text_index import like_candidate_ids

        t = self._table(tbl)
        id_col = t.meta.key_cols[0]
        ids = like_candidate_ids(self.spark, path, needle)
        ids.withColumnRenamed("doc_id", id_col).createOrReplaceTempView(
            "__palo_gram_hits"
        )
        self.last_like_indexed = True
        return (
            text[: pred.end()]
            + f" AND `{id_col}` IN (SELECT `{id_col}` FROM __palo_gram_hits)"
            + text[pred.end() :]
        )

    def _try_indexed_eq(self, text: str) -> str | None:
        """BITMAP / bloom_filter_columns route ([docs: bloomfilter,
        bitmap-index]): a single ``col = literal`` predicate over a
        value-indexed column adds an id-IN conjunct from the posting
        index. Postings key on ``CAST(col AS STRING)``, so the route is
        gated to shapes where the literal's string form provably equals
        the cast (string column + quoted literal, or integer column +
        canonical integer literal) — anything else falls through, and
        the original predicate always stays in place as the verifier."""
        got = self._single_indexed_pred(text, _EQ_PRED_RE, ("BITMAP",))
        if got is None:
            return None
        pred, tbl, (_, _, path, _, _g) = got
        col = pred.group("col")
        lit = pred.group("lit")
        t = self._table(tbl)
        ctype = self._col_type(t, col)
        if "\\" in lit:
            # the literal regex consumes doubled '' escapes but not
            # backslash escapes: for 'don\'t' the match truncates at the
            # escaped quote and the spliced conjunct would land INSIDE
            # the string literal (ADVICE r10) — decline, full scan wins
            return None
        if lit.startswith(("'", '"')):
            # date is safe: CAST(date AS STRING) is canonical ISO, the
            # same form a matching quoted literal must be written in
            if ctype not in ("string", "varchar", "char", "text", "date"):
                return None
            probe = lit[1:-1]
            if lit.startswith("'"):
                probe = probe.replace("''", "'")
            if ctype == "date" and not re.fullmatch(
                r"\d{4}-\d{2}-\d{2}", probe
            ):
                return None  # non-canonical spelling would cast-compare
                # equal but string-mismatch the posting key
        else:
            if ctype not in ("tinyint", "smallint", "int", "bigint", "integer"):
                return None
            try:
                canonical = str(int(lit))
            except ValueError:
                return None
            if canonical != lit:
                return None  # e.g. '05' casts differently than it reads
            probe = canonical
        self._refresh_index(tbl, col, path, "BITMAP", 0)
        from palo_spark.operators.text_index import value_candidate_ids

        id_col = t.meta.key_cols[0]
        ids = value_candidate_ids(self.spark, path, probe)
        ids.withColumnRenamed("doc_id", id_col).createOrReplaceTempView(
            "__palo_eq_hits"
        )
        self.last_eq_indexed = True
        return (
            text[: pred.end()]
            + f" AND `{id_col}` IN (SELECT `{id_col}` FROM __palo_eq_hits)"
            + text[pred.end() :]
        )

    def _rewrite_tablesample(self, text: str) -> str:
        """Doris ``FROM t TABLESAMPLE(n PERCENT | n ROWS)
        [REPEATABLE(seed)]`` ([docs: SELECT]). Adaptation, documented:
        upstream samples whole TABLETS pseudo-randomly, so result sizes
        are approximate and unstable across runs; here membership is a
        deterministic hash of the table's first key column —
        reproducible across partitionings and cluster sizes (the
        stronger contract a pipeline actually wants), with REPEATABLE
        mapping onto the hash seed. The filter is a narrow predicate
        that rides the scan: zero shuffles at any scale. ROWS converts
        to a fraction of the CURRENT row count (one count job) — the
        same approximate contract as upstream, not an exact LIMIT."""
        from palo_spark.operators.sampling import o_hash_u

        def repl(m):
            name = m.group("name").lower()
            t = self.tables.get(name)
            if t is None:
                raise ValueError(
                    f"TABLESAMPLE requires an OLAP (session) table, "
                    f"got {m.group('name')!r}"
                )
            key = t.meta.key_cols[0]
            ktype = self._col_type(t, key)
            seed = int(m.group("seed") or 0)
            num = float(m.group("num"))
            if m.group("unit").upper() == "ROWS":
                total = t.read().count()
                frac = min(1.0, num / total) if total else 1.0
            else:
                if num > 100:
                    raise ValueError(f"TABLESAMPLE percent > 100: {num}")
                frac = num / 100.0
            alias = m.group("alias") or m.group("name")
            if frac >= 1.0:
                return f"FROM `{name}` {alias}"
            if ktype in (
                "tinyint", "smallint", "int", "integer", "bigint",
            ):
                # minstd hash — the same integer arithmetic the
                # sampling operators (and their DuckDB oracles) use
                u = o_hash_u(f"`{key}`", seed)
            else:
                # non-numeric key: xxhash64 (Spark-side only), signed
                # 64-bit mapped onto [0,1)
                u = (
                    f"(CAST(xxhash64(`{key}`, {seed}) AS DOUBLE) "
                    f"/ 1.8446744073709552E19 + 0.5)"
                )
            return (
                f"FROM (SELECT * FROM `{name}` WHERE {u} < {frac!r}) {alias}"
            )

        return _TABLESAMPLE_RE.sub(repl, text)

    @staticmethod
    def _col_type(t: Table, col: str) -> str | None:
        """Base declared type (lowercase, params stripped) of ``col``,
        or None when the table has no declared schema."""
        schema = getattr(t, "_declared_schema", "") or ""
        for p in _schema_parts(schema):
            bits = p.strip().split(None, 1)
            if bits and bits[0].strip("`") == col:
                return re.sub(r"[(<].*", "", bits[1]).strip().lower() if len(bits) > 1 else None
        return None

    def _table_df(self, t: Table):
        """The table's merge view, or a typed EMPTY frame when it has no
        data (never loaded / fully truncated) — None if empty and the
        declared schema is unknown. Keeps every statement that needs a
        frame (view refresh, MV registration) working on empty tables."""
        try:
            return t.read()
        except ValueError:
            schema = getattr(t, "_declared_schema", None)
            if schema is None:
                return None
            return self.spark.createDataFrame([], schema)

    def _refresh_view(self, name: str) -> None:
        # record the token FIRST: _commit_async_mvs may re-enter sql(),
        # whose convergence sweep would otherwise re-trigger this refresh
        self._view_tokens[name] = self.tables[name].state_token()
        df = self._table_df(self.tables[name])
        if df is None:
            self.spark.catalog.dropTempView(name)
        else:
            df.createOrReplaceTempView(name)
        # _refresh_view runs after every session-statement mutation of
        # `name`, so it is the ON COMMIT trigger point for async MVs
        self._commit_async_mvs(name)

    def _refresh_rollups(self, table_name: str, t: Table) -> None:
        """Rebuild a table's rollups from its current merge view after a
        NON-INSERT mutation (DELETE, DROP PARTITION). Insert-time
        maintenance only ever ADDS deltas, so removals must re-derive the
        stores or MVs keep answering with deleted rows' contributions."""
        if self.rollups is None:
            return
        base = table_name.lower()
        if self.rollups._rollups.get(base):
            df = self._table_df(t)
            if df is None:
                return
            self.rollups.register_base(base, df)
            self.rollups.refresh(base)
            # the hook must ride the CURRENT object: an in-place RESTORE
            # swaps in a fresh Table whose _on_insert list is empty —
            # without re-attaching, the next load would silently stop
            # maintaining the live rollups (r11 fuzz hunt, seed 19 class)
            if not getattr(t, "_mv_hooked", False):
                self.rollups.attach_table(base, t)
                t._mv_hooked = True  # type: ignore[attr-defined]

    def _guard_mv_column_refs(self, table_name: str, col: str) -> None:
        """Doris rule: a column referenced by a synchronous materialized
        view cannot be renamed/dropped/retyped — the MV's load-time
        maintenance would re-run its definition with the stale name and
        fail the user's NEXT INSERT (observed: rename then insert crashed
        inside the rollup refresh hook). DROP MATERIALIZED VIEW first."""
        if self.rollups is None:
            return
        base = table_name.lower()
        for r in self.rollups._rollups.get(base, []):
            refs = set(r.group_cols) | {
                m.col for m in r.measures if m.col is not None
            }
            if col in refs:
                raise ValueError(
                    f"column {col!r} is referenced by materialized view "
                    f"{r.name!r}; DROP MATERIALIZED VIEW {r.name} first"
                )

    def _table(self, name: str) -> Table:
        t = self.tables.get(name.lower())
        if t is None:
            raise ValueError(f"unknown palo table {name!r}")
        return t

    def _policied_mutation_read(self, sel: str):
        """A mutation's embedded join-SELECT (``UPDATE ... FROM``,
        ``DELETE ... USING``) read AS the current identity (ADVICE
        r11): when that identity is row-policied, each policied table
        the composed SELECT reaches is swapped for its filtered view —
        exactly what ``INSERT ... SELECT`` already gets by recursing
        through :meth:`sql` — so a mutation cannot launder rows a row
        policy hides from its author (neither from the SOURCE side, by
        copying hidden values into a readable table, nor from the
        TARGET side, by deleting/updating rows it cannot see).
        Returns the policy-filtered DataFrame, or None when the
        identity is unrestricted (caller takes its normal path)."""
        if self.current_user == "root" or self._definer_depth != 0:
            return None
        pol = self._applicable_policies(sel)
        if not pol:
            return None
        return self._run_with_row_policies(sel, pol)

    def _delete_using(self, name: str, using: str, cond: str) -> int:
        """Doris 2.0 join-delete ([docs: delete — ``DELETE FROM t1 USING
        t2 ... WHERE ...``], UNIQUE key model only): rows of ``t1``
        correlated by the USING join are deleted. Upstream executes this
        as an INSERT of delete-sign rows selected by the join; this does
        the same — ONE distributed join computes the matched rows, which
        land as a ``__DORIS_DELETE_SIGN__=1`` rowset, so the read path's
        existing merge-on-read sign filter applies the delete. The
        matched side is the rows being deleted (bounded by definition);
        it is persisted only to avoid recomputing the join between the
        emptiness probe and the write."""
        from pyspark.sql import functions as F

        from palo_spark.tables import DELETE_SIGN_COL

        t = self._table(name)
        if t.meta.keys_type != "UNIQUE":
            raise ValueError(
                "DELETE ... USING requires the UNIQUE key model "
                "(Doris join-delete restriction)"
            )
        # Semi-join form (r12, guide §3): "rows of t1 correlated by the
        # USING join" is an existence test, so compose EXISTS rather
        # than join+DISTINCT — the join multiplies each target row by
        # its match count (every order of a deleted customer) and then
        # pays a full-width DISTINCT exchange to collapse the copies;
        # the semi-join never multiplies and never shuffles more than
        # the target rows. Row-set identical on the UNIQUE key model
        # (asserted above): target rows are key-unique, so DISTINCT
        # t.* of the join == t.* filtered by EXISTS.
        # Name resolution (ADVICE r12): an UNQUALIFIED column present in
        # both target and USING tables binds to the inner (USING) scope
        # under EXISTS, where the join form raised an ambiguity error —
        # Doris's documented examples always qualify, so this accepts
        # strictly more texts rather than changing any accepted one.
        # Non-equality correlated predicates ride Spark's decorrelation
        # (complete since 3.4; floor pinned by
        # tests/test_tvf_delete_using.py::
        # test_delete_using_non_equality_correlated_predicate).
        sel = (
            f"SELECT `{name}`.* FROM `{name}` "
            f"WHERE EXISTS (SELECT 1 FROM {using} WHERE {cond})"
        )
        matched = self._policied_mutation_read(sel)
        if matched is None:
            matched = self._sql_nocache(sel)
        cols = list(t.meta.key_cols)
        if t.meta.sequence_col:
            cols.append(t.meta.sequence_col)
        cols += [c for c in t.meta.value_cols or [] if c not in cols]
        batch = matched.select(*cols).persist()
        try:
            if not batch.take(1):
                # nothing matched: commit no rowset (an empty sign rowset
                # would flip the table onto the sign-filtering read path
                # forever for nothing)
                return t.meta.rowsets[-1]["version"] if t.meta.rowsets else 0
            version = t.insert(batch.withColumn(DELETE_SIGN_COL, F.lit(1)))
        finally:
            batch.unpersist()
        self._refresh_rollups(name, t)
        self._refresh_view(name.lower())
        return version

    def _update(self, text: str) -> int:
        """``UPDATE t SET c = expr [, ...] [WHERE cond]`` — Doris allows
        UPDATE only on the UNIQUE key model; it is sugar for read →
        modify matching rows → upsert them back (the merge-on-read
        replace does the rest). Non-matching rows are never rewritten.
        """
        m = _UPDATE_RE.match(text)
        if not m:
            raise ValueError(f"unparsable UPDATE: {text!r}")
        sets, frm, cond = _split_update_tail(m.group("tail"))
        return self._run_update(m, sets, frm, cond)

    def _update_from(self, m, frm, cond, t: Table, assigns: dict, cur):
        """Doris 2.0 ``UPDATE t [alias] SET ... FROM src WHERE join``
        ([docs: update]): one distributed join computes the updated
        rows, which land as an ordinary upsert batch — rows the join
        does not reach are untouched. SET expressions may reference the
        source tables (that is the point); a join that matches one key
        several times is nondeterministic-last-wins, exactly upstream's
        documented caveat. The composed statement translates ONCE."""
        if not cond:
            # FROM with no WHERE composes a cross join — every target
            # row updated from an ARBITRARY source row under the
            # last-wins caveat. Upstream requires a usable join; match
            # that posture and refuse loudly (VERDICT r10).
            raise ValueError(
                "UPDATE ... FROM requires a WHERE clause joining the "
                "target to the source (without one every row would be "
                "updated from an arbitrary source row)"
            )
        name = m.group("name").lower()
        alias = (m.group("alias") or m.group("name")).lower()
        schema = getattr(t, "_declared_schema", None)
        typs = {}
        if schema:
            for part in _schema_parts(schema):
                n_, ty = part.strip().split(None, 1)
                typs[n_.lower()] = ty
        partial_ok = (
            not t.meta.sequence_col
            and not t.meta.partition_by
            and not t.meta.auto_partition
            and not t.meta.range_partitions
            and not t.meta.has_delete_sign
        )
        keys_lower = {c.lower() for c in t.meta.key_cols}
        sel = []
        for c in cur.columns:
            rhs = assigns.get(c.lower())
            if rhs is None:
                if partial_ok and c.lower() not in keys_lower:
                    continue  # untouched value column — not rewritten
                sel.append(f"`{alias}`.`{c}`")
            elif c.lower() in typs:
                sel.append(f"CAST(({rhs}) AS {typs[c.lower()]}) AS `{c}`")
            else:
                sel.append(f"({rhs}) AS `{c}`")
        inner = (
            f"SELECT {', '.join(sel)} FROM `{name}` `{alias}`, "
            f"{frm} WHERE {cond or 'true'}"
        )
        matched = self._policied_mutation_read(inner)
        if matched is None:
            matched = doris_sql(self.spark, inner)
        version = t.insert(matched, partial_columns=partial_ok)
        self._refresh_view(name)
        return version

    def _run_update(self, m, sets: str, frm, cond):
        t = self._table(m.group("name"))
        if t.meta.keys_type != "UNIQUE":
            raise ValueError("UPDATE requires a UNIQUE-key table (Doris semantics)")
        assigns: dict[str, str] = {}
        for item in _split_top(sets):
            am = re.match(
                r"^(?:`?\w+`?\.)?`?(\w+)`?\s*=\s*(.+)$",
                item.strip(), re.DOTALL,
            )
            if not am:
                raise ValueError(f"unparsable SET item: {item!r}")
            # raw text here; the FROM path translates the composed
            # statement ONCE (translate is not idempotent for
            # %-patterns), the single-table path translates per-item
            assigns[am.group(1).lower()] = am.group(2)
        for k in assigns:
            if k in (c.lower() for c in t.meta.key_cols):
                raise ValueError(f"cannot UPDATE key column {k!r}")
        try:
            cur = t.read()
        except ValueError:
            return 0  # empty table: UPDATE matches nothing
        if frm is not None:
            return self._update_from(m, frm, cond, t, assigns, cur)
        assigns = {k: translate(v) for k, v in assigns.items()}
        cond = translate(cond) if cond else "true"
        from pyspark.sql import functions as F

        matched = cur.filter(F.expr(cond))
        schema = getattr(t, "_declared_schema", None)
        typs = {}
        if schema:
            for part in _schema_parts(schema):
                n_, ty = part.strip().split(None, 1)
                typs[n_.lower()] = ty
        # Doris 2.0 executes UPDATE as a partial-column load when the
        # table is eligible: write (keys + SET columns) only — on a wide
        # table this is the difference between rewriting every column of
        # every matched row and writing just the touched ones. Fallback
        # to the full-row upsert where partial updates are restricted
        # (sequence column, partitioned layout).
        partial_ok = (
            not t.meta.sequence_col
            and not t.meta.partition_by
            and not t.meta.auto_partition
            and not t.meta.range_partitions
            # partial rowsets may not mix with live delete-sign rowsets
            # (Table.insert would refuse) — fall back to full-row upsert
            and not t.meta.has_delete_sign
        )
        keys_lower = {c.lower() for c in t.meta.key_cols}
        sel = []
        for c in cur.columns:
            rhs = assigns.get(c.lower())
            if rhs is None:
                if partial_ok and c.lower() not in keys_lower:
                    continue  # untouched value column — not rewritten
                sel.append(f"`{c}`")
            elif c.lower() in typs:
                sel.append(f"CAST(({rhs}) AS {typs[c.lower()]}) AS `{c}`")
            else:
                sel.append(f"({rhs}) AS `{c}`")
        version = t.insert(
            matched.selectExpr(*sel), partial_columns=partial_ok
        )
        self._refresh_view(m.group("name").lower())
        return version

    # ----------------------------------------------------------- entry

    def sql(self, text: str):
        """Run one Doris-dialect SQL statement.

        Returns a DataFrame for queries, the committed version (int) for
        INSERT, the :class:`Table` for CREATE TABLE, None for DROP.

        Text containing several top-level ``;``-separated statements (the
        mysql-client batch shape sent to the same entry point) runs each
        in order and returns the LAST statement's result — use
        :meth:`script` for one result per statement.

        Top-level query/DML statements pass the session workload
        group's admission gate first ([docs: workload-group]):
        at most ``max_concurrency`` run at once, ``max_queue_size``
        wait up to ``queue_timeout`` ms, the rest fail loudly.
        Internal recursion (CTAS bodies, INSERT ... SELECT, MV
        maintenance) never re-admits — one statement, one slot."""
        depth = getattr(self._wg_local, "depth", 0)
        group = None
        if depth == 0 and _WG_ADMIT_RE.match(text):
            group = self.workload_groups.get(
                self.variables.get("workload_group", "normal")
            )
        self._wg_local.depth = depth + 1
        try:
            if group is None:
                # not admission-gated, but still marks the nesting so
                # internal recursion (a DDL body's SELECT) is never
                # separately admitted — one user statement, one
                # admission decision
                return self._sql_stmt(text)
            group.acquire()
            try:
                return self._sql_stmt(text)
            finally:
                group.release()
        finally:
            self._wg_local.depth = depth

    def _sql_stmt(self, text: str):
        parts = self._split_statements(text)
        if len(parts) > 1:
            result = None
            for p in parts:
                result = self.sql(p)
            return result
        stripped = text.strip()
        svm = _SETVAR_HINT_RE.search(stripped)
        if svm:
            # `/*+ SET_VAR(k=v, ...) */` ([docs: sql-hints]): the
            # variables apply to THIS statement only — route each pair
            # through the ordinary SET path (same validation and side
            # effects), run the de-hinted statement, then restore the
            # whole variable state (including the effectful trio and
            # the session time zone) from the snapshot
            pairs = []
            for kv in svm.group("pairs").split(","):
                if not kv.strip():
                    continue
                k, eq, v = kv.partition("=")
                if not eq:
                    raise ValueError(f"malformed SET_VAR pair {kv.strip()!r}")
                pairs.append((k.strip().strip("`"), v.strip().strip("'\"")))
            snap_vars = dict(self.variables)
            snap_rc = self.result_cache_enabled
            snap_mvr = self.mv_rewrite_enabled
            snap_tz = self.spark.conf.get("spark.sql.session.timeZone", None)
            try:
                for k, v in pairs:
                    self.sql(f"SET {k} = '{v}'")
                return self.sql(_SETVAR_HINT_RE.sub("", stripped, count=1))
            finally:
                self.variables = snap_vars
                self.result_cache_enabled = snap_rc
                self.mv_rewrite_enabled = snap_mvr
                if snap_tz is not None:
                    self.spark.conf.set(
                        "spark.sql.session.timeZone", snap_tz
                    )
        # catalog refs rewrite FIRST, before any statement dispatch:
        # `cat.tbl` → `cat__tbl` must be visible to EVERY statement kind
        # — CREATE VIEW bodies, CTAS, INSERT ... SELECT, OUTFILE — not
        # just the tail query path (r9 interaction audit: CREATE VIEW
        # over a catalog table crashed TABLE_OR_VIEW_NOT_FOUND because
        # its body never saw the rewrite). The rewrite only touches
        # registered catalog.table pairs outside quotes/backticks, so
        # every other statement passes through byte-identical.
        if self.catalogs:
            stripped = self._rewrite_catalog_refs(stripped)
        # VARIANT subscripts likewise rewrite for every statement kind
        # (view bodies, CTAS, INSERT...SELECT — not just queries)
        stripped = self._rewrite_variant_subscripts(stripped)
        # mysql-client builtins: SELECT @@version_comment, DATABASE(),
        # CONNECTION_ID() — connectors issue these on handshake. Never
        # on SET statements: `SET @@autocommit = 1` is an ASSIGNMENT
        # (the SET handler strips the @@ prefix itself); rewriting its
        # left side to a literal would garble it.
        if not re.match(r"^\s*SET\b", stripped, re.IGNORECASE) and (
            "@@" in stripped
            or re.search(
                r"\b(?:DATABASE|SCHEMA|CONNECTION_ID)\s*\(\s*\)", stripped,
                re.IGNORECASE,
            )
        ):
            stripped = self._rewrite_client_builtins(stripped)
        # ALIAS FUNCTION macros expand before translation (but never
        # inside their own DDL statements)
        if self.alias_functions and not re.match(
            r"^\s*(?:CREATE|DROP)\s+(?:GLOBAL\s+)?(?:ALIAS\s+)?FUNCTION",
            stripped, re.IGNORECASE,
        ):
            stripped = self._expand_alias_functions(stripped)
        # Doris table-valued functions (local/file/s3/hdfs/numbers, plus
        # the session-backed jobs()/tasks() metadata TVFs) in FROM
        # position — statement-wide so `INSERT INTO t SELECT ... FROM
        # S3(...)` (the Doris 2.x load-from-object-store path) works,
        # not just the tail query path
        from palo_spark.sources import _TVF_CALL_RE, rewrite_table_functions

        if _TVF_CALL_RE.search(stripped) or re.search(
            r"\b(?:jobs|tasks|catalogs|frontends|backends)\s*\(",
            stripped, re.IGNORECASE,
        ):
            stripped = rewrite_table_functions(
                self.spark, stripped,
                extra={
                    "jobs": self._jobs_df, "tasks": self._tasks_df,
                    "catalogs": self._catalogs_df,
                    "frontends": self._nodes_df, "backends": self._nodes_df,
                },
            )
        if re.search(r"\bTABLESAMPLE\b", stripped, re.IGNORECASE):
            stripped = self._rewrite_tablesample(stripped)
            if re.search(r"\bTABLESAMPLE\b", stripped, re.IGNORECASE):
                # a clause the rewrite could not claim (e.g. on a JOIN
                # side) would silently run Spark's NON-deterministic
                # row sampling — refuse instead of breaking the
                # documented reproducibility contract
                raise ValueError(
                    "TABLESAMPLE is supported directly after FROM "
                    "<table> only"
                )
        up = stripped.upper()
        # authorization first ([docs: privilege]): non-root identities
        # are checked per statement; internal maintenance (MV refresh,
        # scheduled-job DO bodies) runs definer-rights via _sql_nocache
        if self.current_user != "root" and self._definer_depth == 0:
            self._enforce_privileges(stripped, up)
        handled, _priv_res = self._try_privilege_stmt(stripped, up)
        if handled:
            return _priv_res
        if "WORKLOAD GROUP" in up:
            wg_res = self._try_workload_group_stmt(stripped, up)
            if wg_res is not NotImplemented:
                return wg_res
        if up.startswith("CREATE TABLE"):
            lk = _CREATE_LIKE_RE.match(stripped)
            if lk:
                return self._create_table_like(
                    lk.group("name"), lk.group("src"), bool(lk.group("ine"))
                )
            cm = _CTAS_RE.match(stripped)
            if cm and "(" not in stripped[: cm.start("body")]:
                if cm.group("name").lower() in self.async_mvs:
                    raise ValueError(
                        f"name {cm.group('name')!r} is taken by an async "
                        "materialized view"
                    )
                df = self.sql(cm.group("body"))
                name = cm.group("name")
                kw = (
                    {"location": f"{self.location_root}/{name}"}
                    if self.location_root
                    else {}
                )
                t = Table(
                    self.spark, name, "DUPLICATE", [df.columns[0]], **kw
                )
                t._declared_schema = ", ".join(  # type: ignore[attr-defined]
                    f"{n} {ty}" for n, ty in df.dtypes
                )
                self.tables[name.lower()] = t
                t.insert(df)
                self._refresh_view(name.lower())
                return t
            return self._create_table(stripped)
        cj = _CREATE_JOB_RE.match(stripped)
        if cj:
            return self._create_job(cj)
        jc = _JOB_CTL_RE.match(stripped)
        if jc:
            name = jc.group("name").lower()
            if name not in self.insert_jobs:
                raise ValueError(f"unknown job {name!r}")
            op = jc.group("op").upper()
            j = self.insert_jobs[name]
            if op == "DROP":
                del self.insert_jobs[name]
            elif j["state"] == "FINISHED":
                raise ValueError(f"job {name!r} is FINISHED (terminal)")
            else:
                j["state"] = "PAUSED" if op == "PAUSE" else "RUNNING"
            return None
        crl = _CREATE_ROUTINE_RE.match(stripped)
        if crl:
            return self._create_routine_load(
                crl.group("job"), crl.group("tbl"),
                crl.group("props"), crl.group("kafka"),
            )
        rcl = _ROUTINE_CTL_RE.match(stripped)
        if rcl:
            job = rcl.group("job").lower()
            if job not in self.routine_jobs:
                raise ValueError(f"unknown routine load job {job!r}")
            j = self.routine_jobs[job]
            op = rcl.group("op").upper()
            if j["state"] == "STOPPED":
                raise ValueError(f"routine load job {job!r} is STOPPED (terminal)")
            if op == "PAUSE":
                j["state"] = "PAUSED"
            elif op == "STOP":
                j["state"] = "STOPPED"
            else:  # RESUME: back to RUNNING and drain new files
                j["state"] = "RUNNING"
                self._drain_routine(job)
            return None
        srl = _SHOW_ROUTINE_RE.match(stripped)
        if srl and "ROUTINE" in up:
            rows = [
                (n, j["table"], j["state"], j["format"], j["batches"])
                for n, j in sorted(self.routine_jobs.items())
                if srl.group("job") is None or n == srl.group("job").lower()
            ]
            return self.spark.createDataFrame(
                rows or [("", "", "", "", 0)],
                "name string, table_name string, state string, "
                "format string, scheduling_rounds int",
            ).filter("name <> ''")
        ccm = _CREATE_CATALOG_RE.match(stripped)
        if ccm:
            return self._create_catalog(
                ccm.group("name"), ccm.group("props"), bool(ccm.group("ine"))
            )
        dcm = _DROP_CATALOG_RE.match(stripped)
        if dcm:
            name = dcm.group("name").lower()
            cat = self.catalogs.pop(name, None)
            if cat is None:
                if re.search(r"IF\s+EXISTS", stripped, re.IGNORECASE):
                    return None
                raise ValueError(f"unknown catalog: {name}")
            for tbl in cat["tables"]:
                self.spark.catalog.dropTempView(f"{name}__{tbl}")
            return None
        if _SHOW_CATALOGS_RE.match(stripped):
            rows = [
                (n, c["type"], c["root"], len(c["tables"]))
                for n, c in sorted(self.catalogs.items())
            ]
            return self.spark.createDataFrame(
                rows or [("", "", "", 0)],
                "catalog_name string, type string, root string, n_tables int",
            ).filter("catalog_name <> ''")
        rcm = _REFRESH_CATALOG_RE.match(stripped)
        if rcm:
            name = rcm.group("name").lower()
            if name not in self.catalogs:
                raise ValueError(f"unknown catalog: {name}")
            cat = self.catalogs[name]
            if cat["type"] == "jdbc":
                props = (
                    f"'type'='jdbc', 'jdbc_url'='{cat['root']}', "
                    f"'driver'='{cat['driver']}'"
                )
            else:
                props = f"'type'='{cat['type']}', 'root'='{cat['root']}'"
            self._create_catalog(name, props, if_not_exists=False)
            return None
        lm = _LOAD_RE.match(stripped)
        if lm:
            from palo_spark.sources import broker_load

            t = self._table(lm.group("name"))
            where = lm.group("where")
            fmt = (lm.group("fmt") or "parquet").lower()
            kw2: dict = {}
            if fmt in ("csv", "json"):
                # schemaless formats read with the table's declared
                # schema (Doris maps load columns to table columns)
                schema = getattr(t, "_declared_schema", None)
                if schema:
                    kw2["schema"] = schema
            version = broker_load(
                self.spark,
                t,
                lm.group("path"),
                fmt,
                where=translate(where) if where else None,
                label=lm.group("label"),
                **kw2,
            )
            self._refresh_view(lm.group("name").lower())
            return version
        tm = _TRUNCATE_RE.match(stripped)
        if tm:
            t = self._table(tm.group("name"))
            if tm.group("part"):
                # partition-scoped truncate: storage empties, the
                # declaration survives — the table still has data, so
                # the ordinary refresh path (rollup re-derive + view +
                # ON COMMIT MVs) applies
                t.truncate_partition(tm.group("part"))
                self._refresh_rollups(tm.group("name"), t)
                self._refresh_view(tm.group("name").lower())
                return None
            t.truncate()
            # delta-maintained rollups never subtract: without this, an
            # MV kept answering with pre-truncate sums forever. Empty
            # each store schema-preservingly (limit(0) of itself, tmp +
            # replace) so MV-answered queries see the truncated state.
            if self.rollups is not None:
                for r in self.rollups._rollups.get(tm.group("name").lower(), []):
                    empty = r.read(self.spark).limit(0)
                    tmp_store = r.location + ".__tmp"
                    empty.write.mode("overwrite").parquet(tmp_store)
                    _sh.rmtree(r.location, ignore_errors=True)
                    os.replace(tmp_store, r.location)
            # a truncated table stays queryable as empty (Doris behavior)
            schema = getattr(t, "_declared_schema", None)
            if schema:
                self.spark.createDataFrame([], schema).createOrReplaceTempView(
                    tm.group("name").lower()
                )
            else:
                self.spark.catalog.dropTempView(tm.group("name").lower())
            # this branch registers the view itself (bypassing
            # _refresh_view), so record the token or the next query's
            # convergence sweep re-fires the ON COMMIT hook mid-flight
            self._view_tokens[tm.group("name").lower()] = t.state_token()
            # TRUNCATE bypasses _refresh_view (it registers the empty
            # view itself), so fire the ON COMMIT hook explicitly — an
            # ON COMMIT async MV must not keep serving pre-truncate
            # aggregates while the same branch empties sync rollups
            # for exactly that staleness (r9 advice)
            self._commit_async_mvs(tm.group("name").lower())
            return None
        scv = _SHOW_CREATE_VIEW_RE.match(stripped)
        if scv:
            vn = scv.group("name").lower()
            if vn not in self.views:
                raise ValueError(f"unknown view {vn!r}")
            return self.spark.createDataFrame(
                [(vn, f"CREATE VIEW `{vn}` AS {self.views[vn]}")],
                "view string, create_stmt string",
            )
        scmv = _SHOW_CREATE_MV_RE.match(stripped)
        if scmv:
            # Doris SHOW CREATE MATERIALIZED VIEW — the round-trippable
            # statement for async MVs; sync rollups report their derived
            # CREATE form
            mvn = scmv.group("mv").lower()
            if mvn in self.async_mvs:
                mv = self.async_mvs[mvn]
                stmt = (
                    f"CREATE MATERIALIZED VIEW `{mvn}` BUILD IMMEDIATE "
                    f"REFRESH {mv.get('mode', 'COMPLETE')} "
                    f"ON {mv['on'].upper()} AS {mv['body']}"
                )
                return self.spark.createDataFrame(
                    [(mvn, stmt)],
                    "materialized_view string, create_stmt string",
                )
            if self.rollups is not None:
                for n, b, g, ms in self.rollups.list_rollups():
                    if n.lower() == mvn:
                        stmt = (
                            f"CREATE MATERIALIZED VIEW `{n}` AS SELECT "
                            f"{', '.join(g)}, {', '.join(ms)} FROM `{b}` "
                            f"GROUP BY {', '.join(g)}"
                        )
                        return self.spark.createDataFrame(
                            [(n, stmt)],
                            "materialized_view string, create_stmt string",
                        )
            raise ValueError(f"unknown materialized view {mvn!r}")
        if _SHOW_RECYCLE_RE.match(stripped):
            # Doris SHOW CATALOG RECYCLE BIN — recoverable dropped tables
            rows = []
            if self.location_root and os.path.isdir(self.location_root):
                from palo_spark.tables import _META_FILE

                for entry in sorted(os.listdir(self.location_root)):
                    d = os.path.join(self.location_root, entry)
                    if not os.path.isfile(os.path.join(d, _META_FILE)):
                        continue
                    try:
                        t = Table.open(self.spark, d)
                    except (OSError, TypeError, ValueError):
                        continue
                    if t.meta.dropped:
                        rows.append(
                            (t.meta.name, "TABLE", t.meta.mutations)
                        )
            return self.spark.createDataFrame(
                rows or [("", "", 0)],
                "name string, type string, dropped_at_mutation long",
            ).filter("name <> ''")
        rcv = _RECOVER_RE.match(stripped)
        if rcv:
            name = rcv.group("name").lower()
            if name in self.tables:
                raise ValueError(f"table {name!r} already exists")
            if not self.location_root or not os.path.isdir(self.location_root):
                raise ValueError(f"no dropped table {name!r} to recover")
            from palo_spark.tables import _META_FILE

            best = None
            for entry in sorted(os.listdir(self.location_root)):
                d = os.path.join(self.location_root, entry)
                if not os.path.isfile(os.path.join(d, _META_FILE)):
                    continue
                try:
                    t = Table.open(self.spark, d)
                except (OSError, TypeError, ValueError):
                    continue
                if t.meta.dropped and t.meta.name.lower() == name:
                    # newest drop wins (Doris recovers the most recent)
                    if best is None or t.meta.mutations > best.meta.mutations:
                        best = t
            if best is None:
                raise ValueError(f"no dropped table {name!r} to recover")
            best.meta.dropped = False
            best._save_meta()
            self.tables[name] = best
            self._refresh_view(name)
            return None
        crm = _CREATE_REPO_RE.match(stripped)
        if crm:
            name = crm.group("name").lower()
            if name in self.repositories:
                raise ValueError(f"repository {name!r} already exists")
            path = crm.group("path")
            os.makedirs(path, exist_ok=True)
            self.repositories[name] = path
            return None
        drm = _DROP_REPO_RE.match(stripped)
        if drm:
            name = drm.group("name").lower()
            if name not in self.repositories:
                raise ValueError(f"unknown repository {name!r}")
            # Doris DROP REPOSITORY deletes the reference, never the
            # backed-up data
            del self.repositories[name]
            return None
        bkm = _BACKUP_RE.match(stripped)
        if bkm:
            return self._backup_snapshot(
                bkm.group("label").lower(),
                bkm.group("repo").lower(),
                [t.strip().strip("`") for t in bkm.group("tables").split(",")],
            )
        rsm = _RESTORE_RE.match(stripped)
        if rsm:
            specs = []
            for part in rsm.group("tables").split(","):
                words = part.replace("`", "").split()
                if len(words) == 3 and words[1].upper() == "AS":
                    specs.append((words[0], words[2]))
                elif len(words) == 1:
                    specs.append((words[0], words[0]))
                else:
                    raise ValueError(f"unparsable RESTORE table spec: {part!r}")
            return self._restore_snapshot(
                rsm.group("label").lower(), rsm.group("repo").lower(), specs
            )
        ssm = _SHOW_SNAPSHOT_RE.match(stripped)
        if ssm:
            repo = ssm.group("repo").lower()
            if repo not in self.repositories:
                raise ValueError(f"unknown repository {repo!r}")
            rows = []
            root = self.repositories[repo]
            for label in sorted(os.listdir(root)):
                mf = os.path.join(root, label, "_manifest.json")
                if os.path.isfile(mf):
                    with open(mf) as f:
                        m_ = _json.load(f)
                    rows.append((label, ", ".join(sorted(m_["tables"])), "OK"))
            return self.spark.createDataFrame(
                rows or [("", "", "")],
                "snapshot string, tables string, status string",
            ).filter("snapshot <> ''")
        spm = _SHOW_PARTITIONS_RE.match(stripped)
        if spm:
            # Doris SHOW PARTITIONS: live partition labels from rowset
            # directory listings — metadata-only, no data scan
            t = self._table(spm.group("name"))
            if not (t.meta.auto_partition or t.meta.range_partitions
                    or t.meta.partition_by):
                raise ValueError(
                    f"table {spm.group('name')!r} is not partitioned"
                )
            if spm.group("temp"):
                rp_ = t.meta.range_partitions or {}
                rows = [
                    (p["name"], p.get("for", ""))
                    for p in rp_.get("temp", [])
                ]
                return self.spark.createDataFrame(
                    rows or [("", "")],
                    "PartitionName string, ReplacesPartition string",
                ).filter("PartitionName != ''")
            pcol = (
                t.meta.auto_partition["col"]
                if t.meta.auto_partition
                else t.meta.range_partitions["col"]
                if t.meta.range_partitions
                else ", ".join(t.meta.partition_by)
            )
            if t.meta.range_partitions:
                # DECLARED partitions, in range order (Doris lists
                # empty partitions too)
                labels = [p["name"] for p in t.meta.range_partitions["parts"]]
            elif t.meta.auto_partition:
                labels = t.partitions()
            else:
                from palo_spark.tables import AUTO_PART_COL

                labels = sorted(
                    {
                        nm.split("=", 1)[1]
                        for r in t.meta.rowsets
                        for nm in (
                            os.listdir(r["path"])
                            if os.path.isdir(r["path"])
                            else []
                        )
                        if "=" in nm and not nm.startswith(AUTO_PART_COL)
                    }
                )
            rows = [(lbl, pcol) for lbl in labels]
            return self.spark.createDataFrame(
                rows or [("", "")],
                "partition_name string, partition_key string",
            ).filter("partition_name <> ''")
        scm = _SHOW_CREATE_RE.match(stripped)
        if scm:
            t = self._table(scm.group("name"))
            cols = []
            for part in _schema_parts(getattr(t, "_declared_schema", "") or ""):
                if not part.strip():
                    continue
                nm, ty = part.strip().split(None, 1)
                agg = t.meta.agg_spec.get(nm, "")
                cols.append(f"  `{nm}` {ty.upper()}" + (f" {agg}" if agg else ""))
            ap = t.meta.auto_partition
            ddl = (
                f"CREATE TABLE `{t.meta.name}` (\n" + ",\n".join(cols) + "\n)\n"
                f"{t.meta.keys_type} KEY({', '.join('`%s`' % k for k in t.meta.key_cols)})"
                + (
                    (
                        f"\nAUTO PARTITION BY LIST (`{ap['col']}`) ()"
                        if ap["granularity"] == "list"
                        else f"\nAUTO PARTITION BY RANGE (date_trunc("
                             f"`{ap['col']}`, '{ap['granularity']}')) ()"
                    )
                    if ap
                    else (
                        "\nPARTITION BY %s(`%s`) (%s)" % (
                            "LIST"
                            if t.meta.range_partitions.get("kind") == "list"
                            else "RANGE",
                            t.meta.range_partitions["col"],
                            ", ".join(
                                (
                                    "PARTITION %s VALUES IN (%s)" % (
                                        p["name"], ", ".join(p["values"]),
                                    )
                                    if "values" in p
                                    else "PARTITION %s VALUES LESS THAN (%s)"
                                    % (
                                        p["name"],
                                        "MAXVALUE" if p["upper"] is None
                                        else p["upper"],
                                    )
                                )
                                for p in t.meta.range_partitions["parts"]
                            ),
                        )
                        if t.meta.range_partitions
                        else ""
                    )
                )
                # distribution + properties so the emitted DDL
                # round-trips through PaloSession.sql (pinned by
                # test_show_create_table_roundtrip)
                + (
                    f"\nDISTRIBUTED BY HASH({', '.join('`%s`' % c for c in t.meta.dist_cols)}) BUCKETS {t.meta.buckets}"
                    if t.meta.dist_cols
                    else ""
                )
                + (
                    f"\nPROPERTIES ('function_column.sequence_col' = '{t.meta.sequence_col}')"
                    if t.meta.sequence_col
                    else ""
                )
            )
            return self.spark.createDataFrame(
                [(t.meta.name, ddl)], "table_name string, create_table string"
            )
        amv = _CREATE_ASYNC_MV_RE.match(stripped)
        if amv:
            return self._create_async_mv(
                amv.group("mv"),
                amv.group("body"),
                build=(amv.group("build") or "IMMEDIATE").upper(),
                on=(amv.group("on") or "MANUAL").upper(),
                mode=amv.group("mode").upper(),
            )
        mv = _CREATE_MV_RE.match(stripped)
        if mv:
            return self._create_mv(mv.group("mv"), mv.group("body"))
        vw = _CREATE_VIEW_RE.match(stripped)
        if vw:
            name = vw.group("name").lower()
            if vw.group("ine") and name in self.views:
                return None
            if name in self.async_mvs:
                raise ValueError(
                    f"name {name!r} is taken by an async materialized view"
                )
            body = translate(vw.group("body"))
            # SQL-created temp views store the PARSED plan (late
            # binding, Spark default storeAnalyzedPlanForView=false):
            # the view re-resolves its base tables on every query, so
            # inserts into an underlying palo table are visible through
            # the view — Doris logical-view semantics. A
            # DataFrame.createTempView would freeze the plan instead.
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {body}"
            )
            self.views[name] = vw.group("body").strip()
            # a view whose body reads an external-catalog table (or
            # another such view) inherits the no-result-cache rule:
            # catalog files have no mutation ledger, and the view name
            # would otherwise HIDE the catalog ref from the cache gate —
            # a REFRESH CATALOG after a root-file change would then
            # serve the stale cached rows (r9 interaction audit)
            hides_tokened = any(
                re.search(rf"\b{re.escape(m)}\b", body, re.IGNORECASE)
                for m in self.async_mvs
            )
            if self._text_touches_catalog(body) or hides_tokened:
                # the view name would HIDE the catalog ref / async-MV
                # token from the cache gate — bypass the cache for
                # queries touching this view
                self._catalog_views.add(name)
            else:
                self._catalog_views.discard(name)
            return None
        sv = _SET_VAR_RE.match(stripped)
        if sv and not up.startswith("SET SESSION TRANSACTION"):
            name = sv.group("name").lower()
            val = sv.group("val").strip("'\"")
            _prev_var = self.variables.get(name)
            self.variables[name] = val
            if name == "time_zone":
                self.spark.conf.set("spark.sql.session.timeZone", val)
            elif name == "enable_sql_cache":
                self.result_cache_enabled = val.lower() in ("true", "1", "on")
            elif name == "enable_materialized_view_rewrite":
                self.mv_rewrite_enabled = val.lower() in ("true", "1", "on")
            elif name == "workload_group":
                if val.lower() not in self.workload_groups:
                    # keep the session's current group on a bad SET
                    if _prev_var is None:
                        del self.variables[name]
                    else:
                        self.variables[name] = _prev_var
                    raise ValueError(f"unknown workload group {val!r}")
                self.variables[name] = val.lower()
            return None
        shv = _SHOW_VARS_RE.match(stripped)
        if shv:
            pat = shv.group("pat")
            rex = (
                re.compile(
                    "^" + re.escape(pat).replace("%", ".*").replace("_", ".") + "$",
                    re.IGNORECASE,
                )
                if pat is not None
                else None
            )
            rows = [
                (k, v)
                for k, v in sorted(self.variables.items())
                if rex is None or rex.match(k)
            ]
            return self.spark.createDataFrame(
                rows, "variable_name string, value string"
            )
        afm = _CREATE_ALIAS_FN_RE.match(stripped)
        if afm:
            name = afm.group("name").lower()
            params = [
                p.strip().strip("`")
                for p in afm.group("params").split(",")
                if p.strip()
            ]
            # split types on TOP-LEVEL commas only — DECIMAL(10,2)'s
            # inner comma is part of one type (ADVICE r10)
            ntypes = len(
                [t for t in re.split(
                    r",(?![^()]*\))", afm.group("types")
                ) if t.strip()]
            )
            if ntypes != len(params):
                raise ValueError(
                    f"alias function {name!r}: {ntypes} argument types "
                    f"but {len(params)} parameters"
                )
            body = afm.group("body").strip().rstrip(";").strip()
            for p in params:
                if not re.search(rf"\b{re.escape(p)}\b", body):
                    raise ValueError(
                        f"alias function {name!r}: parameter {p!r} never "
                        f"used in the body"
                    )
            self.alias_functions[name] = (params, body)
            return None
        dfm = _DROP_FN_RE.match(stripped)
        if dfm and (
            dfm.group("name").lower() in self.alias_functions
            or "IF EXISTS" in stripped.upper()
        ):
            self.alias_functions.pop(dfm.group("name").lower(), None)
            return None
        if _SHOW_FN_RE.match(stripped):
            return self.spark.createDataFrame(
                [
                    (n, f"({', '.join(ps)}) -> {b}")
                    for n, (ps, b) in sorted(self.alias_functions.items())
                ]
                or [("", "")],
                "Signature string, Body string",
            ).filter("Signature <> ''")
        cim = _CREATE_IDX_RE.match(stripped)
        if cim:
            name, col = cim.group("name").lower(), cim.group("col")
            kind = cim.group("kind").upper()
            t = self._table(name)
            schema = getattr(t, "_declared_schema", "") or ""
            if col not in [p.strip().split()[0] for p in _schema_parts(schema)]:
                raise ValueError(f"unknown column {col!r} on table {name!r}")
            props = cim.group("props") or ""
            ctype = self._col_type(t, col)
            if kind == "NGRAM_BF" and ctype not in (
                "string", "varchar", "char", "text",
            ):
                raise ValueError(
                    f"NGRAM_BF requires a string column; {col!r} is {ctype!r}"
                )
            if kind == "BITMAP" and ctype not in (
                "string", "varchar", "char", "text",
                "tinyint", "smallint", "int", "integer", "bigint",
                "date", "datetime", "boolean",
            ):
                raise ValueError(
                    f"BITMAP index unsupported on {col!r} type {ctype!r}"
                )
            gram_size = 0
            if kind == "NGRAM_BF":
                # Doris defaults gram_size=2; bf_size is accepted but
                # advisory — the posting-bucket layout replaces the
                # bloom filter ([docs: ngram-bloomfilter-index], see
                # operators/text_index.py module docstring)
                gm = re.search(
                    r"['\"]gram_size['\"]\s*=\s*['\"](\d+)['\"]", props
                )
                gram_size = int(gm.group(1)) if gm else 2
                if gram_size < 2:
                    raise ValueError("gram_size must be >= 2")
            elif props and not re.search(
                r"['\"]bf_size['\"]", props
            ):
                raise ValueError(
                    f"PROPERTIES not supported for USING {kind}: {props!r}"
                )
            root = self.location_root or _tf.gettempdir()
            path = f"{root}/_palo_inverted/{name}__{col}__{kind.lower()}"
            self._refresh_index(name, col, path, kind, gram_size)
            self.indexes[cim.group("idx").lower()] = (
                name, col, path, kind, gram_size
            )
            return None
        dim = _DROP_IDX_RE.match(stripped)
        if dim:
            idx = dim.group("idx").lower()
            if idx not in self.indexes:
                raise ValueError(f"unknown index {idx!r}")
            path = self.indexes.pop(idx)[2]
            _sh.rmtree(path, ignore_errors=True)
            return None
        sim = _SHOW_IDX_RE.match(stripped)
        if sim:
            name = sim.group("name").lower()
            rows = [
                (idx, tbl, col, kind)
                for idx, (tbl, col, _p, kind, _g) in sorted(self.indexes.items())
                if tbl == name
            ]
            return self.spark.createDataFrame(
                rows, "index_name string, table_name string, column_name string, index_type string"
            )
        dv = _DROP_VIEW_RE.match(stripped)
        if dv:
            name = dv.group("name").lower()
            if name not in self.views:
                if dv.group("ife"):
                    return None
                raise ValueError(f"unknown view {name!r}")
            del self.views[name]
            self._catalog_views.discard(name)
            self.spark.catalog.dropTempView(name)
            return None
        of = _OUTFILE_RE.match(stripped)
        if of:
            df = self.sql(of.group("body"))
            fmt = (of.group("fmt") or "parquet").lower()
            if fmt not in ("parquet", "csv", "json", "orc"):
                raise ValueError(f"unsupported OUTFILE format {fmt!r}")
            w = df.write.mode("errorifexists")
            if fmt == "csv":
                w = w.option("header", True)
            getattr(w, fmt)(of.group("path"))
            return of.group("path")
        if up.startswith("DROP TABLE"):
            m = _DROP_RE.match(stripped)
            if not m:
                raise ValueError(f"unparsable DROP TABLE: {text!r}")
            name = m.group("name").lower()
            if name not in self.tables and not m.group("ife"):
                raise ValueError(f"unknown palo table {name!r}")
            if name in self.tables:
                # Doris catalog recycle bin: the directory (rowsets +
                # meta) survives with a dropped marker — RECOVER TABLE
                # un-drops it; session re-attach skips it
                t_drop = self.tables[name]
                t_drop.meta.dropped = True
                t_drop._save_meta()
                del self.tables[name]
                self.spark.catalog.dropTempView(name)
                # indexes belong to the table (Doris drops them with it):
                # remove their entries AND their on-disk posting dirs so a
                # later same-named table can never see a stale index
                for idx in [i for i, v in self.indexes.items() if v[0] == name]:
                    p_ = self.indexes.pop(idx)[2]
                    _sh.rmtree(p_, ignore_errors=True)
                # row policies die with the table (they bind to the
                # object, not the name): a LATER same-named table must
                # not inherit a dead table's filters — and, worse, a
                # RECOVERed table losing them is the honest direction
                # (filters a recovered table's readers should re-declare)
                if any(p.table == name for p in self.access.policies):
                    self.access.policies = [
                        p for p in self.access.policies if p.table != name
                    ]
                    self._save_access()
                # synchronous MVs likewise die with their base (Doris):
                # a zombie rollup would silently answer a LATER
                # same-named table's aggregates with the dropped
                # table's data via the rewrite path
                if self.rollups is not None:
                    for r in list(self.rollups._rollups.get(name, [])):
                        self.rollups.drop_rollup(r.name)
                    self.rollups._bases.pop(name, None)
                    self.rollups._rollups.pop(name, None)
                # routine-load jobs die with their table (Doris cancels
                # them on DROP): a surviving job would hold a stale table
                # key — RESUME would KeyError, and worse, a LATER table
                # created under the same name would silently receive the
                # old job's ingestion
                for jn, j in self.routine_jobs.items():
                    if j["table"] == name:
                        j["state"] = "STOPPED"
            return None
        if up.startswith("DELETE"):
            mu = _DELETE_USING_RE.match(stripped)
            if mu:
                return self._delete_using(
                    mu.group("name"), mu.group("using"), mu.group("cond")
                )
            m = _DELETE_RE.match(stripped)
            if not m:
                raise ValueError(f"unparsable DELETE (need WHERE): {text!r}")
            t = self._table(m.group("name"))
            # Doris DELETE is a metadata-recorded predicate applied at
            # read on pre-delete rowsets — Table.delete_where IS that.
            # DELETE ... PARTITION (p) conjoins the partition label: the
            # predicate filter then only ever matches inside p, and the
            # label equality prunes directories at read.
            cond = translate(m.group("cond"))
            if m.group("part"):
                from palo_spark.tables import AUTO_PART_COL

                if not (t.meta.auto_partition or t.meta.range_partitions):
                    raise ValueError(
                        "DELETE ... PARTITION requires a partitioned table"
                    )
                cond = f"{AUTO_PART_COL} = '{m.group('part')}' AND ({cond})"
            version = t.delete_where(cond)
            self._refresh_rollups(m.group("name"), t)
            self._refresh_view(m.group("name").lower())
            return version
        if up.startswith("UPDATE"):
            return self._update(stripped)
        if up.startswith("ALTER"):
            rt_ = _ALTER_RENAME_TABLE_RE.match(stripped)
            if rt_:
                # Doris ALTER TABLE x RENAME y — metadata-only: the
                # Table object (and its storage location) is re-keyed
                # under the new name; the old temp view is dropped so
                # stale reads fail instead of serving renamed data
                old = rt_.group("name").lower()
                new = rt_.group("new").lower()
                if new in self.tables:
                    raise ValueError(f"table {new!r} already exists")
                t = self._table(old)
                # async MV bodies bind to bases BY NAME (text), so a
                # rename silently detaches an ON COMMIT trigger (the
                # reach check stops matching → the stale snapshot
                # serves forever; r12 audit wrong-answer repro).
                # Refuse loudly for ON COMMIT MVs — same posture as
                # the column-drop guard. ON MANUAL MVs keep renaming:
                # their direct-read staleness is within the manual
                # contract, the transparent rewrite is lineage-gated
                # against the renamed-away base, and the next REFRESH
                # fails loudly (pinned in
                # test_async_mv_rewrite_adversarial_edges).
                for mvn, mv in self.async_mvs.items():
                    if mv["on"] == "commit" and old in (
                        self._expand_view_refs(mv["body"])[0]
                    ):
                        raise ValueError(
                            f"table {old!r} is referenced by ON COMMIT "
                            f"async materialized view {mvn!r}; DROP "
                            f"MATERIALIZED VIEW {mvn} first (async MV "
                            "bodies bind to base tables by name, so "
                            "the commit trigger cannot follow a rename)"
                        )
                del self.tables[old]
                self.spark.catalog.dropTempView(old)
                t.meta.name = new
                t._save_meta()
                self.tables[new] = t
                # indexes and synchronous MVs follow the table: re-key
                # them so they keep serving (and keep being maintained)
                # under the new name, and so nothing stale can ever be
                # looked up under the old one
                for idx, (t_, c_, p_, k_, g_) in list(self.indexes.items()):
                    if t_ == old:
                        self.indexes[idx] = (new, c_, p_, k_, g_)
                # routine-load jobs follow the rename: re-key job["table"]
                # so RESUME keeps ingesting into the same (renamed) table
                # instead of KeyError-ing on the old name
                for j in self.routine_jobs.values():
                    if j["table"] == old:
                        j["table"] = new
                # row policies bind to the TABLE (upstream stores them
                # by table id), so they follow the rename — otherwise a
                # rename would silently strip every policy and a
                # policied identity would see the unfiltered rows.
                # GRANTS stay name-based (upstream grants reference
                # names, a renamed table needs a re-grant).
                if any(p.table == old for p in self.access.policies):
                    for p in self.access.policies:
                        if p.table == old:
                            p.table = new
                    self._save_access()
                if self.rollups is not None:
                    rs = self.rollups._rollups.pop(old, [])
                    bdf = self.rollups._bases.pop(old, None)
                    if rs:
                        for r in rs:
                            r.base = new
                        self.rollups._rollups[new] = rs
                    if bdf is not None:
                        ndf = self._table_df(t)
                        if ndf is not None:
                            self.rollups.register_base(new, ndf)
                self._refresh_view(new)
                return None
            ar_ = _ADD_ROLLUP_RE.match(stripped)
            if ar_:
                # Doris ALTER TABLE ... ADD ROLLUP r (cols): the classic
                # rollup spelling. Keys = listed key columns; every
                # listed value column aggregates by its table agg type —
                # so this lowers to the same RollupCatalog registration
                # as CREATE MATERIALIZED VIEW, with the body DERIVED
                # from the table's agg spec.
                t = self._table(ar_.group("name"))
                cols = [c.strip().strip("`") for c in ar_.group("cols").split(",")]
                keys, vals = [], []
                for c in cols:
                    agg = t.meta.agg_spec.get(c)
                    if c in t.meta.key_cols or agg is None:
                        keys.append(c)
                    elif agg.upper() in ("SUM", "MIN", "MAX"):
                        vals.append((c, agg.upper()))
                    else:
                        raise ValueError(
                            f"ADD ROLLUP cannot aggregate {c!r} ({agg}) — "
                            "REPLACE-type columns have no rollup merge"
                        )
                if not keys or not vals:
                    raise ValueError(
                        "ADD ROLLUP needs at least one key column and one "
                        "SUM/MIN/MAX value column from the table definition"
                    )
                body = (
                    "SELECT "
                    + ", ".join(keys)
                    + ", "
                    + ", ".join(f"{a}({c}) AS {a.lower()}_{c}" for c, a in vals)
                    + f" FROM {ar_.group('name')} GROUP BY "
                    + ", ".join(keys)
                )
                return self._create_mv(ar_.group("r"), body)
            dm_ = _ALTER_DROP_COL_RE.match(stripped)
            if dm_:
                t = self._table(dm_.group("name"))
                self._guard_mv_column_refs(dm_.group("name"), dm_.group("col"))
                t.drop_column(dm_.group("col"))
                # inverted indexes on the dropped column die with it
                tn_ = dm_.group("name").lower()
                for idx in [
                    i
                    for i, v in self.indexes.items()
                    if v[0] == tn_ and v[1] == dm_.group("col")
                ]:
                    p_ = self.indexes.pop(idx)[2]
                    _sh.rmtree(p_, ignore_errors=True)
                schema = getattr(t, "_declared_schema", None)
                if schema:
                    t._declared_schema = ", ".join(  # type: ignore[attr-defined]
                        p.strip()
                        for p in _schema_parts(schema)
                        if p.strip().split()[0] != dm_.group("col")
                    )
                vc = set(getattr(t, "_variant_cols", set()))
                if dm_.group("col").lower() in vc:
                    vc.discard(dm_.group("col").lower())
                    t._variant_cols = vc  # type: ignore[attr-defined]
                self._refresh_view(dm_.group("name").lower())
                return None
            rm_ = _ALTER_RENAME_COL_RE.match(stripped)
            if rm_:
                t = self._table(rm_.group("name"))
                self._guard_mv_column_refs(rm_.group("name"), rm_.group("old"))
                t.rename_column(rm_.group("old"), rm_.group("new"))
                # inverted indexes follow the column: postings are
                # content-keyed, so a rename is a registry re-key, not a
                # rebuild — MATCH on the new name keeps the pruned path
                tn_ = rm_.group("name").lower()
                for idx, (t_, c_, p_, k_, g_) in list(self.indexes.items()):
                    if t_ == tn_ and c_ == rm_.group("old"):
                        self.indexes[idx] = (t_, rm_.group("new"), p_, k_, g_)
                schema = getattr(t, "_declared_schema", None)
                if schema:
                    parts = []
                    for p in _schema_parts(schema):
                        nm, ty = p.strip().split(None, 1)
                        parts.append(
                            f"{rm_.group('new')} {ty}" if nm == rm_.group("old")
                            else f"{nm} {ty}"
                        )
                    t._declared_schema = ", ".join(parts)  # type: ignore[attr-defined]
                # variant subscripts must follow the rename
                vc = set(getattr(t, "_variant_cols", set()))
                if rm_.group("old").lower() in vc:
                    vc.discard(rm_.group("old").lower())
                    vc.add(rm_.group("new").lower())
                    t._variant_cols = vc  # type: ignore[attr-defined]
                self._refresh_view(rm_.group("name").lower())
                return None
            mm_ = _ALTER_MODIFY_RE.match(stripped)
            if mm_:
                t = self._table(mm_.group("name"))
                base = mm_.group("type").lower().split("(")[0]
                styp = (
                    mm_.group("type").lower()
                    if base == "decimal"
                    else _DDL_TYPES.get(base)
                )
                if styp is None:
                    raise ValueError(f"unsupported column type {mm_.group('type')!r}")
                self._guard_mv_column_refs(mm_.group("name"), mm_.group("col"))
                t.modify_column_type(mm_.group("col"), styp)
                schema = getattr(t, "_declared_schema", None)
                if schema:
                    parts = []
                    for p in _schema_parts(schema):
                        nm, ty = p.strip().split(None, 1)
                        parts.append(
                            f"{nm} {styp}" if nm == mm_.group("col") else f"{nm} {ty}"
                        )
                    t._declared_schema = ", ".join(parts)  # type: ignore[attr-defined]
                self._refresh_view(mm_.group("name").lower())
                return None
            sprops_ = _ALTER_SET_PROPS_RE.match(stripped)
            if sprops_:
                t = self._table(sprops_.group("name"))
                props_ = {
                    m_.group("k").lower(): m_.group("v")
                    for m_ in _PROP_KV_RE.finditer(sprops_.group("props"))
                }
                known = False
                ds_ = props_.get("dynamic_partition.start")
                if ds_ is not None:
                    if not t.meta.auto_partition:
                        raise ValueError(
                            "dynamic_partition properties require an "
                            "auto-partitioned table"
                        )
                    t.meta.dynamic_partition_retention = abs(int(ds_))
                    t._apply_retention()
                    t._save_meta()
                    self._refresh_rollups(sprops_.group("name"), t)
                    self._refresh_view(sprops_.group("name").lower())
                    known = True
                if props_.get("dynamic_partition.enable", "").lower() == "false":
                    t.meta.dynamic_partition_retention = 0
                    t._save_meta()
                    known = True
                if not known:
                    raise ValueError(
                        f"unsupported ALTER TABLE SET properties: "
                        f"{sorted(props_)}"
                    )
                return None
            apm_ = _ALTER_ADD_PART_RE.match(stripped)
            if apm_:
                t = self._table(apm_.group("name"))
                up = apm_.group("upper")
                add = (
                    t.add_temp_partition if apm_.group("temp")
                    else t.add_partition
                )
                if apm_.group("invals") is not None:
                    add(
                        apm_.group("part"),
                        values=[
                            v.strip()
                            for v in apm_.group("invals").split(",")
                        ],
                    )
                else:
                    add(
                        apm_.group("part"),
                        None if up.upper() == "MAXVALUE" else up,
                    )
                return None
            rpp_ = _ALTER_REPLACE_PART_RE.match(stripped)
            if rpp_:
                t = self._table(rpp_.group("name"))
                t.replace_partition(rpp_.group("formal"), rpp_.group("temp"))
                # visible data changed: rollups re-derive, views/MVs see it
                self._refresh_rollups(rpp_.group("name"), t)
                self._refresh_view(rpp_.group("name").lower())
                return None
            pm_ = _ALTER_DROP_PART_RE.match(stripped)
            if pm_:
                t = self._table(pm_.group("name"))
                t.drop_partition(pm_.group("label"))
                self._refresh_rollups(pm_.group("name"), t)
                self._refresh_view(pm_.group("name").lower())
                return None
            m = _ALTER_ADD_RE.match(stripped)
            if not m:
                raise ValueError(
                    "unparsable ALTER TABLE (supported: ADD COLUMN, DROP "
                    f"COLUMN, RENAME COLUMN, DROP PARTITION): {text!r}"
                )
            t = self._table(m.group("name"))
            base = m.group("type").lower().split("(")[0]
            styp = m.group("type").lower() if base == "decimal" else _DDL_TYPES.get(base)
            if styp is None:
                raise ValueError(f"unsupported column type {m.group('type')!r}")
            default = m.group("default")
            if default is not None:
                default = default.strip("'")
                if base in ("int", "integer", "bigint", "tinyint", "smallint"):
                    default = int(default)
                elif base in ("float", "double", "decimal"):
                    default = float(default)
            t.add_column(m.group("col"), styp, default=default, agg=m.group("agg"))
            t._declared_schema = (  # type: ignore[attr-defined]
                getattr(t, "_declared_schema", "") + f", {m.group('col')} {styp}"
            )
            self._refresh_view(m.group("name").lower())
            return None
        if up.startswith("EXPLAIN "):
            # Doris EXPLAIN [VERBOSE|SHAPE PLAN|GRAPH]: return the
            # physical plan as rows. The query goes through the same
            # dialect translation + MV selection as execution, so the
            # plan shown is the plan that would run — with the result
            # cache bypassed (a cached answer would EXPLAIN as a local
            # relation, not the real plan). VERBOSE maps to Spark's
            # extended mode (all four plan phases); SHAPE PLAN / GRAPH
            # to the formatted tree.
            tail = stripped[len("EXPLAIN "):].lstrip()
            mode = "formatted"
            tm = re.match(
                r"(?is)^(VERBOSE|SHAPE\s+PLAN|GRAPH|PHYSICAL\s+PLAN)\s+",
                tail,
            )
            if tm:
                tail = tail[tm.end():]
                if tm.group(1).upper() == "VERBOSE":
                    mode = "extended"
            saved = self.result_cache_enabled
            self.result_cache_enabled = False
            try:
                df = self.sql(tail)
            finally:
                self.result_cache_enabled = saved
            plan = df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    mode
                )
            )
            return self.spark.createDataFrame(
                [(line,) for line in plan.splitlines()], "plan string"
            )
        ex_ = _EXPORT_RE.match(stripped)
        if ex_:
            from pyspark.sql import functions as F

            from palo_spark.sources import export_table
            from palo_spark.tables import AUTO_PART_COL

            t = self._table(ex_.group("name"))
            if ex_.group("part"):
                if not (t.meta.auto_partition or t.meta.range_partitions):
                    raise ValueError(
                        "EXPORT ... PARTITION requires a partitioned table"
                    )
                view = t.read(
                    partition_pred=F.col(AUTO_PART_COL) == ex_.group("part")
                )
            else:
                view = t.read()
            fmt = (ex_.group("fmt") or "parquet").lower()
            opts = {"header": True} if fmt == "csv" else {}
            export_table(view, ex_.group("path"), fmt, **opts)
            return ex_.group("path")
        sl_ = _SHOW_LOAD_RE.match(stripped)
        if sl_:
            # Doris SHOW LOAD: the committed-load ledger straight from
            # table metadata (version, label, rowset path) — no scan
            t = self._table(sl_.group("name"))
            rows = [
                (r["version"], r.get("label") or "", r["path"])
                for r in t.meta.rowsets
            ]
            return self.spark.createDataFrame(
                rows or [(0, "", "")],
                "version long, label string, rowset_path string",
            ).filter("version > 0")
        sdata_ = _SHOW_DATA_RE.match(stripped)
        if sdata_:
            # Doris SHOW DATA: per-table on-disk size and rowset count,
            # straight from the rowset ledger + filesystem — no scan.
            names = (
                [sdata_.group("name").lower()]
                if sdata_.group("name")
                else sorted(self.tables)
            )
            # Doris-shaped output: TableName / Size (human-readable,
            # 3 decimals) / ReplicaCount, then Total / Quota / Left
            # summary rows — clients parsing Doris's SHOW DATA work as-is.
            def _fmt(b: int) -> str:
                v, unit = float(b), "B"
                for u in ("KB", "MB", "GB", "TB"):
                    if v < 1024.0:
                        break
                    v, unit = v / 1024.0, u
                return f"{v:.3f} {unit}"

            rows, total = [], 0
            for n in names:
                t = self._table(n)
                size = 0
                for r_ in t.meta.rowsets:
                    for dirpath, _dirs, files in os.walk(r_["path"]):
                        size += sum(
                            os.path.getsize(os.path.join(dirpath, f_))
                            for f_ in files
                        )
                total += size
                rows.append((n, _fmt(size), len(t.meta.rowsets)))
            quota = 1024**4  # Doris default per-db data quota: 1 TB
            rows.append(("Total", _fmt(total), sum(r[2] for r in rows)))
            rows.append(("Quota", _fmt(quota), 0))
            rows.append(("Left", _fmt(max(quota - total, 0)), 0))
            return self.spark.createDataFrame(
                rows, "TableName string, Size string, ReplicaCount int"
            )
        sd_ = _SHOW_DELETE_RE.match(stripped)
        if sd_:
            t = self._table(sd_.group("name"))
            rows = [(d["version"], d["predicate"]) for d in t.meta.deletes]
            return self.spark.createDataFrame(
                rows or [(0, "")], "version long, predicate string"
            ).filter("version > 0")
        if _SHOW_MV_RE.match(stripped):
            rows = self.rollups.list_rollups() if self.rollups else []
            out_rows = [
                (n, b, ", ".join(g), ", ".join(ms)) for n, b, g, ms in rows
            ] + [
                # async MVs: base_table lists the referenced session
                # tables; measures column carries the refresh posture
                (n, ", ".join(mv["tables"]) or "(external)", "",
                 f"async on {mv['on']}, refreshes {mv['token']}")
                for n, mv in sorted(self.async_mvs.items())
            ]
            return self.spark.createDataFrame(
                out_rows or [("", "", "", "")],
                "mv_name string, base_table string, group_cols string, measures string",
            ).filter("mv_name <> ''")
        dmv_ = _DROP_MV_RE.match(stripped)
        if dmv_:
            mvn = dmv_.group("mv").lower()
            if mvn in self.async_mvs:
                mv = self.async_mvs.pop(mvn)
                self.spark.catalog.dropTempView(mvn)
                _sh.rmtree(mv["path"] + f"_v{mv['token']}", ignore_errors=True)
                return None
            if self.rollups is None or not self.rollups.drop_rollup(dmv_.group("mv")):
                raise ValueError(f"unknown materialized view {dmv_.group('mv')!r}")
            return None
        rmv_ = _REFRESH_MV_RE.match(stripped)
        if rmv_:
            mvn = rmv_.group("mv").lower()
            if mvn in self.async_mvs:
                self._refresh_async_mv(mvn)
                return None
            if self.rollups is None or not self.rollups.refresh_rollup(
                rmv_.group("mv")
            ):
                raise ValueError(f"unknown materialized view {rmv_.group('mv')!r}")
            return None
        am_ = _ANALYZE_RE.match(stripped)
        if am_:
            from pyspark.sql import functions as F

            # Doris ANALYZE TABLE: collect per-column stats (count, ndv,
            # nulls, min, max, avg size) in ONE aggregation over the
            # merge view — the same one-pass shape Doris's full-stats
            # collection job runs. Stored session-side for SHOW COLUMN
            # STATS (Spark's CBO can't ingest external stats for temp
            # views; the user-facing surface is what's re-expressed).
            t = self._table(am_.group("name"))
            view = t.read()
            if am_.group("pct"):
                # sampled collection: deterministic fraction sample —
                # counts/ndv become estimates, the Doris contract for
                # WITH SAMPLE
                view = view.sample(
                    fraction=min(int(am_.group("pct")), 100) / 100.0,
                    seed=42,
                )
            elif am_.group("rows"):
                view = view.limit(int(am_.group("rows")))
            aggs, names = [], []
            for f_ in view.schema.fields:
                c = F.col(f_.name)
                names.append(f_.name)
                aggs += [
                    F.count(c).alias(f"{f_.name}__cnt"),
                    F.approx_count_distinct(c).alias(f"{f_.name}__ndv"),
                    F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(
                        f"{f_.name}__nulls"
                    ),
                    F.min(c).cast("string").alias(f"{f_.name}__min"),
                    F.max(c).cast("string").alias(f"{f_.name}__max"),
                ]
            row = view.agg(*aggs).first()
            stats = [
                (
                    n,
                    int(row[f"{n}__cnt"]),
                    int(row[f"{n}__ndv"]),
                    int(row[f"{n}__nulls"]),
                    row[f"{n}__min"],
                    row[f"{n}__max"],
                )
                for n in names
            ]
            t._column_stats = stats  # type: ignore[attr-defined]
            return None
        ss_ = _SHOW_STATS_RE.match(stripped)
        if ss_:
            t = self._table(ss_.group("name"))
            stats = getattr(t, "_column_stats", None)
            if stats is None:
                raise ValueError(
                    f"no statistics for {ss_.group('name')!r}; run ANALYZE TABLE first"
                )
            return self.spark.createDataFrame(
                stats,
                "column_name string, count bigint, ndv bigint, "
                "num_nulls bigint, min string, max string",
            )
        ts_ = _SHOW_TABLE_STATS_RE.match(stripped)
        if ts_:
            # Doris SHOW TABLE STATS: table-level numbers from the last
            # ANALYZE (row count) + the rowset ledger (no scan)
            t = self._table(ts_.group("name"))
            stats = getattr(t, "_column_stats", None)
            if stats is None:
                raise ValueError(
                    f"no statistics for {ts_.group('name')!r}; "
                    "run ANALYZE TABLE first"
                )
            row_count = max((s[1] + s[3] for s in stats), default=0)
            return self.spark.createDataFrame(
                [(row_count, len(t.meta.rowsets), len(stats))],
                "row_count bigint, rowset_num bigint, column_num bigint",
            )
        sv_ = _SHOW_VIEW_RE.match(stripped)
        if sv_:
            # Doris SHOW VIEW FROM t: the session views whose body
            # reaches the table (transitively — a view over a view over
            # t counts, upstream's dependency walk)
            name = sv_.group("name").lower()
            self._table(name)  # unknown table fails loud
            rows = [
                (v, body)
                for v, body in sorted(self.views.items())
                if name in self._expand_view_refs(body)[0]
            ]
            return self.spark.createDataFrame(
                rows or [("", "")], "view_name string, create_view string"
            ).filter("view_name <> ''")
        sp_ = _SHOW_PARTS_RE.match(stripped)
        if sp_:
            t = self._table(sp_.group("name"))
            return self.spark.createDataFrame(
                [(p,) for p in t.partitions()] or [("",)], "partition_name string"
            ).filter("partition_name <> ''")
        compat = self._client_compat_df(stripped, up)
        if compat is not None:
            return compat
        if up.startswith("SHOW TABLES"):
            # upstream lists only tables the identity holds SOME
            # privilege on ([docs: privilege] — SHOW filtering)
            names = sorted(
                n for n in self.tables
                if self.access.is_superuser(self.current_user)
                or any(
                    self.access.has_priv(self.current_user, p, n)
                    for p in ("SELECT_PRIV", "LOAD_PRIV", "ALTER_PRIV",
                              "DROP_PRIV")
                )
            )
            return self.spark.createDataFrame(
                [(n,) for n in names] or [("",)], "table_name string"
            ).filter("table_name <> ''")
        if up.startswith("SHOW DATABASES"):
            # single-database engine: the internal db plus one row per
            # external catalog (MySQL-client compatibility surface)
            return self.spark.createDataFrame(
                [("default",)] + [(n,) for n in sorted(self.catalogs)],
                "database string",
            )
        um = _USE_RE.match(stripped)
        if um:
            # USE default / USE <catalog> — validated no-op (tables are
            # addressed directly or via catalog.tbl; there is no db tier)
            target = um.group("name").lower()
            if target != "default" and target not in self.catalogs:
                raise ValueError(f"unknown database/catalog {target!r}")
            return None
        dm = _DESC_RE.match(stripped)
        if dm and dm.group("name").lower() in self.tables:
            t = self.tables[dm.group("name").lower()]
            rows = []
            schema = getattr(t, "_declared_schema", None)
            if schema:
                for part in _schema_parts(schema):
                    cname, ctype = part.strip().split(None, 1)
                    rows.append(
                        (
                            cname,
                            ctype,
                            cname in t.meta.key_cols,
                            t.meta.agg_spec.get(cname, ""),
                        )
                    )
            return self.spark.createDataFrame(
                rows, "field string, type string, is_key boolean, agg string"
            )
        iom = _INSERT_OVERWRITE_RE.match(stripped)
        if iom:
            # Doris INSERT OVERWRITE replaces the table with the query
            # result. The source may read the TARGET itself (INSERT
            # OVERWRITE t SELECT ... FROM t), so the rows are STAGED to
            # a temp rowset BEFORE the truncate — evaluating lazily
            # after truncate would read an already-empty table.
            rest = iom.group("rest")
            # partition-scoped overwrite: only that partition's content
            # is replaced, and every staged row must ROUTE there
            ovw_part = None
            pmatch = re.match(
                r"(`?\w+`?)\s+PARTITION\s*\(\s*`?(\w+)`?\s*\)\s*(.*)$",
                rest, re.IGNORECASE | re.DOTALL,
            )
            if pmatch:
                ovw_part = pmatch.group(2)
                rest = f"{pmatch.group(1)} {pmatch.group(3)}"
            rewritten = "INSERT INTO " + rest
            m2 = _INSERT_RE.match(rewritten)
            if not m2:
                raise ValueError(f"unparsable INSERT OVERWRITE: {text!r}")
            t = self._table(m2.group("name"))
            body = m2.group("body")
            if body.lstrip().upper().startswith("VALUES"):
                rows = self.spark.sql("SELECT * FROM " + translate(body))
            else:
                rows = self.sql(body)
            staged = _tf.mkdtemp(prefix="palo_iow_")
            try:
                rows.write.mode("overwrite").parquet(staged)
                staged_rows = self.spark.read.parquet(staged)
                if ovw_part is not None:
                    if t.meta.range_partitions is None:
                        raise ValueError(
                            "INSERT OVERWRITE ... PARTITION requires a "
                            "static-partitioned table"
                        )
                    from pyspark.sql import functions as F

                    from palo_spark.tables import AUTO_PART_COL

                    # the routing check needs DECLARED column names;
                    # VALUES tuples arrive as col1..colN, so map them
                    # positionally the same way _insert will
                    schema = getattr(t, "_declared_schema", None)
                    decl = (
                        [s.strip().split()[0] for s in _schema_parts(schema)]
                        if schema else list(staged_rows.columns)
                    )
                    if len(staged_rows.columns) != len(decl):
                        raise ValueError(
                            "INSERT OVERWRITE ... PARTITION needs the full "
                            f"column list ({len(decl)} columns, got "
                            f"{len(staged_rows.columns)})"
                        )
                    stray = staged_rows.toDF(*decl).withColumn(
                        AUTO_PART_COL, t.partition_label_expr()
                    ).filter(F.col(AUTO_PART_COL) != ovw_part).take(1)
                    if stray:
                        raise ValueError(
                            f"INSERT OVERWRITE PARTITION ({ovw_part}): the "
                            "query produced rows outside that partition"
                        )
                    t.truncate_partition(ovw_part)
                else:
                    t.truncate()
                version = self._insert(rewritten, rows_override=staged_rows)
                # the truncate half of OVERWRITE never reaches the MV
                # maintenance hooks (they only see the inserted batch):
                # re-derive, or the rollup keeps pre-overwrite sums
                self._refresh_rollups(m2.group("name"), t)
                return version
            finally:
                # the insert re-wrote the data into a rowset; the stage
                # dir is transient (removed after the load commits)
                _sh.rmtree(staged, ignore_errors=True)
        if _INSERT_RE.match(stripped):
            return self._insert(stripped)
        # query path: translate the dialect ONCE, then transparent
        # rollup/MV selection (its pass-through already runs spark.sql
        # on the translated text — never re-translate: the %-pattern
        # rewrite is not idempotent)
        # reference scan must see the ORIGINAL text: the PARTITION
        # rewrite replaces table names with __psel views, which would
        # hide them from the cache key (stale-hit hole)
        ref_text = stripped
        if _PART_SEL_RE.search(stripped):
            stripped = self._rewrite_partition_selection(stripped)
        # cross-session view convergence (r10, with Table._sync_meta):
        # a commit through ANOTHER session/handle of the same table
        # directory moved the state token, but THIS session's registered
        # temp view still enumerates the old rowsets — re-register
        # before serving. Token comparison is a tiny meta-file read per
        # table; within one session tokens match and this is a no-op.
        for _nm, _t in list(self.tables.items()):
            if self._view_tokens.get(_nm) != _t.state_token():
                self._refresh_view(_nm)
        # TVF freshness through stored view bodies: a session view over
        # a table-valued function holds a `__tvf_` name whose temp view
        # pinned the external file listing at CREATE time — re-register
        # any such view this statement reaches, so a replaced/extended
        # external file is re-listed (Doris TVFs read at query time).
        # Direct TVF calls in the statement were already re-registered
        # fresh by the rewrite at the top of sql().
        if self.views and any("__tvf_" in b for b in self.views.values()):
            from palo_spark.sources import refresh_tvf_views

            _, _vp = self._expand_view_refs(ref_text)
            refresh_tvf_views(self.spark, [b for _, b in _vp])
        # row policies ([docs: row-policy]): a policied identity's query
        # runs over filtered views, bypassing every unfiltered store
        # (result cache, MV snapshots, rollups) — see
        # _run_with_row_policies. Checked on the PRE-partition-rewrite
        # text so view indirection cannot hide a policied base.
        if (
            self.current_user != "root"
            and self._definer_depth == 0
            and up.startswith(("SELECT", "WITH"))
        ):
            _pol = self._applicable_policies(ref_text)
            if _pol:
                self.last_cache_hit = False
                self.last_mv_rewrite = None
                return self._run_with_row_policies(stripped, _pol)
        self.last_cache_hit = False
        key = None
        touches_catalog = self._text_touches_catalog(stripped)
        if (
            self.result_cache_enabled
            and up.startswith("SELECT")
            # external-catalog tables have NO mutation ledger (the files
            # can change under us), so queries touching them are never
            # cached — the cache's "stale hits impossible" invariant
            # only holds for session tables with state tokens
            and not touches_catalog
        ):
            # referenced palo tables = session table names appearing as
            # identifiers in the text OR in any view body the text
            # reaches (transitive expansion — a view must not hide its
            # bases or its own definition from the key); over-matching
            # only widens the key (false invalidation), never staleness
            tables_reached, view_pairs = self._expand_view_refs(ref_text)
            refs = sorted(tables_reached)
            expanded = " ".join([ref_text] + [b for _, b in view_pairs])
            # async-MV snapshots carry their own refresh token, so a
            # cached query over one invalidates exactly on REFRESH
            mv_refs = sorted(
                n for n in self.async_mvs
                if re.search(rf"\b{re.escape(n)}\b", expanded, re.IGNORECASE)
            )
            key = (
                stripped,
                tuple((n, self.tables[n].state_token()) for n in refs),
                tuple(view_pairs),
                # nonce: DROP MV + CREATE same-name restarts token, so
                # token alone would replay the old MV's cached results
                tuple(
                    (n, self.async_mvs[n].get("nonce", ""),
                     self.async_mvs[n]["token"])
                    for n in mv_refs
                ),
                # the session time zone changes what identical query
                # text RETURNS (timestamp rendering/arithmetic) — a
                # result cached under TZ A must not serve under TZ B
                # (r9 audit: SET time_zone × cache, wrong-answer repro)
                self.spark.conf.get("spark.sql.session.timeZone", None),
            )
            with self._result_cache_lock:
                hit = self._result_cache.pop(key, None)
                if hit is not None:
                    self._result_cache[key] = hit  # most recently used last
            if hit is not None:
                self.last_cache_hit = True
                return DataFrame(hit, self.spark)
        self.last_match_indexed = False
        self.last_like_indexed = False
        self.last_eq_indexed = False
        self.last_mv_rewrite = None
        df = None
        # transparent async-MV rewrite first (fresh snapshots only —
        # see _try_async_mv_rewrite); it must see the PRE-index-routing
        # text so an exact-body match stays textual
        if (
            self.mv_rewrite_enabled
            and self.async_mvs
            and up.startswith("SELECT")
        ):
            df = self._try_async_mv_rewrite(stripped)
        if df is None:
            if self.indexes:
                routed = self._try_indexed_match(stripped)
                if routed is None:
                    routed = self._try_indexed_like(stripped)
                if routed is None:
                    routed = self._try_indexed_eq(stripped)
                if routed is not None:
                    stripped = routed
            if self.rollups is not None:
                df, _source = self.rollups.sql(translate(stripped))
            else:
                df = doris_sql(self.spark, stripped)
        if key is not None:
            # one job collects the rows into the JVM driver; the entry is
            # a LocalRelation, which collect() serves without a job. The
            # JVM createDataFrame rejects CHAR/VARCHAR, which a Dataset
            # schema already reports as string.
            jrows = df.limit(self.cache_row_limit + 1)._jdf.collectAsList()
            if jrows.size() <= self.cache_row_limit:
                entry = self.spark._jsparkSession.createDataFrame(
                    jrows, df._jdf.schema())
                with self._result_cache_lock:
                    if len(self._result_cache) >= self.cache_entries:
                        self._result_cache.pop(next(iter(self._result_cache)))
                    self._result_cache[key] = entry
                return DataFrame(entry, self.spark)
        return df
