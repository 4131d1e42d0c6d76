"""SQL DML by TABLE NAME over txlog tables — the serving layer's write
face.

The reference's consumption surface is SQL-by-name (Glue catalog →
Athena, `stacks/cdk_datalake_analytics_stack.py:483-522`); Delta gives that
persona ``UPDATE``/``DELETE``/``MERGE INTO``/``INSERT OVERWRITE`` by
table name. The engine has every writer already —
``txlog.tx_update/tx_delete/tx_merge/tx_write`` — but until this module
a SQL-only consumer could not express the engine's own GDPR
point-delete. :func:`sql_dml` resolves the catalog name back to its
txlog path through the pinned-format registry and dispatches to the
native writer; anything it does not recognize passes through
``spark.sql`` unchanged, so it can serve as the single SQL entry point.

Parse, then dispatch: DML and table DDL are parsed ONCE by Spark's own
SQL parser (``sessionState().sqlParser().parsePlan``) and routed on the
class of the unresolved plan — ``DeleteFromTable``, ``UpdateTable``,
``MergeIntoTable``, ``OverwriteByExpression`` (``INSERT INTO … REPLACE
WHERE``) and ``InsertIntoStatement``; ``TruncateTable``,
``ShowTableProperties`` and the ALTER TABLE plans (``AddColumns``,
``RenameColumn``, ``DropColumns``, ``AddCheckConstraint``,
``DropConstraint``, ``SetTableProperties``, ``AlterColumns``);
``CreateTable``, ``CreateTableAsSelect``, ``ReplaceTable`` and
``ReplaceTableAsSelect`` whose provider is ``txlog``. Quotes,
comments, CASE and nested parentheses are therefore the parser's
business, never this module's.
Source queries, subqueries and INSERT queries run as DataFrames over
their parsed sub-plans. The text of a condition or an assignment value
is the statement slice its expression covers: ``(min startIndex, max
stopIndex)`` over the expression's WHOLE subtree, because Spark records
the operator token as the start of a predicate node (``id BETWEEN 3
AND 9`` starts at ``BETWEEN``) and the inner expression, not its
parentheses, as the origin of a parenthesized operand. Column
references are rewritten at the spans of their ``UnresolvedAttribute``
nodes. Verbs Spark does not parse (``SHALLOW CLONE``, ``CONVERT TO
TXLOG``, ``COPY INTO``, ``OPTIMIZE``, ``VACUUM``, ``DESCRIBE
HISTORY|DETAIL``, ``RESTORE``) keep their statement-head regexes, and so
does time travel: Spark refuses ``VERSION AS OF`` on a MERGE source
with an alias, which the rewrite onto frozen twins serves.

Supported statements (``db.table`` names registered by
``sql_serving.register_txlog_table`` / ``register_sql``):

- ``DELETE FROM db.t WHERE <pred>`` — including the GDPR
  bulk-delete-by-list shape ``WHERE k IN (SELECT …) [AND …]``: small
  key sets inline to a literal IN-list (file pruning intact), large
  ones route as a distributed merge-delete (``_dml_by_subquery``).
- ``UPDATE db.t SET c = <expr>, ... [WHERE <pred>]`` — the redact-by-
  list shape ``WHERE k IN (SELECT …)`` routes the same two tiers as
  the subquery DELETE.
- ``INSERT INTO db.t REPLACE WHERE <pred> <query>`` — Delta's
  replaceWhere: ONE atomic commit deletes the predicate's rows
  (file-pruned) and lands the query's rows, every incoming row
  validated to satisfy the predicate.
- ``MERGE INTO db.t [AS a] USING <table|(query)> [AS b] ON <equi-keys>
  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  [WHEN NOT MATCHED BY SOURCE THEN DELETE]`` — plus Delta's GENERAL
  clause forms (``_merge_general`` → ``tx_merge(clauses=…)``):
  ``WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr, … | DELETE``,
  ``WHEN NOT MATCHED [AND <cond>] THEN INSERT (cols) VALUES (exprs)``,
  ``WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE | UPDATE SET …``
  — first-match clause order, expressions over both sides, the whole
  merge one Catalyst plan.
- ``INSERT INTO db.t [(cols)] <query|VALUES …>`` — atomic append via
  ``tx_write`` (unlike the Python-Data-Source INSERT path, this honors
  identity/default/generated columns, CHECK constraints, bloom
  upkeep, row tracking and column mapping, because ``tx_write`` is the
  enforcing writer).
- ``INSERT OVERWRITE [TABLE] db.t [PARTITION (p = v [, q])] [(cols)]
  <query|VALUES …>`` — on a hive-partitioned table this is DYNAMIC
  partition overwrite (K1, `common_jobs_functions.py:312`): ONLY the
  partitions present in the incoming rows are replaced, in one atomic
  commit; unpartitioned tables get the full snapshot replace (column
  subsets NULL-fill the unlisted columns, SQL semantics). A static
  ``PARTITION (p = v)`` spec pins the literal (the query omits the
  column) and replaces exactly that partition.
- Maintenance by name (Delta's SQL utility surface): ``OPTIMIZE db.t
  [WHERE part = v] [ZORDER BY (cols)]`` (incremental bin-pack /
  re-cluster via ``tx_compact``; the WHERE form scopes both shapes to
  the matching partitions), ``VACUUM db.t [RETAIN n HOURS] [DRY RUN]``
  (→ reaped-paths DataFrame), ``DESCRIBE HISTORY db.t`` (commit log +
  operation metrics as a DataFrame), ``RESTORE TABLE db.t TO VERSION
  AS OF n`` (metadata-only restore commit), ``DESCRIBE DETAIL db.t``
  (snapshot facts: version, files, bytes, live rows, partitioning,
  properties), ``TRUNCATE TABLE db.t`` (an all-rows delete COMMIT —
  time-travelable/undoable, properties and constraints survive).
- DDL by name: ``ALTER TABLE db.t ADD COLUMN(S) … [NOT NULL] [DEFAULT
  <expr>] | RENAME COLUMN a TO b | DROP COLUMN(S) c | ADD CONSTRAINT n
  CHECK (…) | DROP CONSTRAINT n | ALTER COLUMN c TYPE <wider> | SET NOT
  NULL | DROP NOT NULL | SET DEFAULT <expr> | DROP DEFAULT | SET
  TBLPROPERTIES (…)`` — the metadata-only schema writers, with
  automatic catalog re-registration so SELECT sees the new shape; and
  ``SHOW TBLPROPERTIES db.t [('key')]`` served from the txlog property
  record. Spark's ADD COLUMN grammar has no GENERATED / IDENTITY /
  CHECK column options (a ``ParseException``): ``tx_add_generated_column``,
  ``tx_add_identity`` and ``ADD CONSTRAINT`` add those.
- ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] db.t USING txlog
  [LOCATION '…'] [PARTITIONED BY (…)] AS <query>`` — CTAS, external or
  managed; and the empty-table DDL form ``CREATE TABLE db.t (col TYPE,
  …) USING txlog …`` (version 1 commits the schema with zero rows) —
  column definitions take Spark's DDL surface (``NOT NULL``, ``DEFAULT``,
  ``COMMENT``, ``GENERATED … AS IDENTITY``, ``GENERATED ALWAYS AS
  (expr)``, ``CHECK``), each option analyzed before version 1 and then
  applied as a metadata commit so the invariants hold from the first
  INSERT.
- ``CONVERT TO TXLOG parquet.`/path`` [PARTITIONED BY (cols)]`` —
  Delta's CONVERT TO DELTA: in-place, metadata-only conversion of an
  existing parquet directory (files referenced where they sit, rows
  from footers; zero data moved).
- ``CREATE TABLE db.t2 SHALLOW CLONE db.t [VERSION AS OF n]
  [LOCATION '…']`` — metadata-only branch via ``tx_clone`` (zero data
  copied even for a petabyte source; the clone evolves independently).
- ``SELECT … FROM db.t VERSION AS OF n | TIMESTAMP AS OF ts`` anywhere
  a table reference appears — rewritten onto auto-registered frozen
  catalog twins.

Scale: the parsed WHERE expression is decomposed into its top-level
``And`` conjuncts; sargable ones (``col = lit``, ``col >|>=|<|<= lit``
with the literal on either side, ``col BETWEEN a AND b``, ``col IN
(lits)``) become the structured ``where``/``where_equals`` specs that
drive FILE PRUNING (range stats + Bloom bitsets — a point DELETE on a
bloom-indexed 100 TB table rewrites only the files that can contain the
key), and the FULL predicate text rides along as the row-level
``condition``. Literal values come from the parser's ``Literal`` nodes,
so a hint holds the value Spark's own WHERE compares with: a TIMESTAMP
is the instant the session time zone gives it, and a DATE bound on a
timestamp column is its UTC midnight (the session zone ``core/session``
pins), whatever the Python process's zone. Non-sargable predicates
still execute correctly — they just scan every live file, exactly
Delta's behavior for an unselective DELETE.

Concurrency: every dispatched statement inherits the writer's
optimistic CAS — a racing ``tx_write`` overlapping the predicate raises
``TxConflictError``, never silent loss (tested in
``tests/test_sql_dml.py``).

:func:`sql_script` runs a multi-statement ``.sql`` text through the
same router (comments stripped, then a top-level ``;`` split).
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.txlog import _merge_range, _quoted_spans, _sub_outside_quotes

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"
_TBL = rf"(?:{_IDENT})(?:\.(?:{_IDENT}))?"


def _unquote(ident: str) -> str:
    ident = ident.strip()
    return ident[1:-1] if ident.startswith("`") else ident


class SqlDmlError(ValueError):
    """A DML statement addressed a txlog table but could not be routed."""


def txlog_table_path(spark: SparkSession, table: str) -> tuple[str, dict] | None:
    """Resolve ``db.t`` to its txlog ``(path, pinned extra options)`` via
    the in-process pinned-format registry, or ``None`` when the name is
    not a txlog-backed catalog table (plain parquet tables, views, CTEs
    all return None and take the passthrough path). "Not a catalog
    table" is decided by ``spark.catalog.tableExists``; a metadata read
    that fails on an EXISTING table raises — it must never route DML on
    a txlog table through plain ``spark.sql``."""
    from ..streaming.source import _PINNED_SOURCES

    parts = [_unquote(p) for p in table.split(".")]
    fq = ".".join(parts)
    qfq = ".".join(f"`{p.replace('`', '``')}`" for p in parts)
    if not spark.catalog.tableExists(qfq):
        return None
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {qfq}").collect()
    provider = next(
        (
            r.data_type
            for r in rows
            if r.col_name in ("Provider", "Name")
            and str(r.data_type).startswith("txlog")
        ),
        None,
    )
    if provider is None:
        # READ-OPTIMIZED registrations serve through a native parquet
        # relation (core/sql_serving._native_register); the txlog storage
        # path rides in TBLPROPERTIES, so DML on the name keeps routing to
        # the transactional writers in any process that can see the
        # catalog entry (the properties persist, unlike Python data source
        # provider classes).
        from .sql_serving import _NATIVE_PROP_EXTRA, _NATIVE_PROP_PATH

        is_parquet = any(
            r.col_name == "Provider" and str(r.data_type) == "parquet"
            for r in rows
        )
        if not is_parquet:
            return None
        props = {
            r.key: r.value
            for r in spark.sql(f"SHOW TBLPROPERTIES {qfq}").collect()
        }
        tpath = props.get(_NATIVE_PROP_PATH)
        if not tpath:
            return None
        import json as _json

        try:
            extra = _json.loads(props.get(_NATIVE_PROP_EXTRA) or "{}")
        except ValueError as e:
            # the extra options carry the frozen / change-feed pins that
            # _writable refuses DML on — never guess them away
            raise SqlDmlError(
                f"{fq}: malformed {_NATIVE_PROP_EXTRA} table property "
                f"({e}) — re-register the table"
            ) from e
        return tpath, extra
    pinned = _PINNED_SOURCES.get(provider)
    if pinned is None:
        raise SqlDmlError(
            f"{fq} is a txlog table (provider {provider}) but its pinned "
            "format is not registered in this process — re-run "
            "register_sql/register_txlog_table first (registration is "
            "metadata-only and idempotent)"
        )
    return pinned


def _split_top(text: str, sep: str) -> list[str]:
    """Split on the one-character separator ``sep`` (``,`` or ``;``)
    where it is top-level: outside single/double-quoted strings,
    backquoted identifiers and parentheses."""
    out, depth, last, i = [], 0, 0, 0
    n = len(text)
    while i < n:
        c = text[i]
        if c in ("'", '"'):  # "…" is a string literal in Spark SQL too
            j = i + 1
            while j < n:
                if text[j] == c:
                    if j + 1 < n and text[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "`":
            j = text.find("`", i + 1)
            i = (j if j != -1 else n) + 1
            continue
        depth += (c == "(") - (c == ")")
        if c == sep and depth == 0:
            out.append(text[last:i])
            last = i + 1
        i += 1
    out.append(text[last:])
    return out


def _parse_literal(tok: str):
    """A RESTORE / time-travel ``AS OF`` literal as a Python value, or
    None when it is not one."""
    tok = tok.strip()
    if re.fullmatch(r"-?\d+", tok):
        return int(tok)
    if re.fullmatch(r"-?\d*\.\d+([eE][+-]?\d+)?|-?\d+[eE][+-]?\d+", tok):
        return float(tok)
    if (
        len(tok) >= 2
        and tok.startswith("'")
        and tok.endswith("'")
        and "'" not in tok[1:-1].replace("''", "")
    ):
        return tok[1:-1].replace("''", "'")
    return None


def parse_predicate(pred: _Expr | str) -> tuple[dict, dict, str | None]:
    """Decompose a WHERE clause into file-pruning hints + the residual
    row-level condition: ``(where ranges, where_equals probes,
    condition)``. ``pred`` is a parsed expression, or text that the
    active session's SQL parser parses. Sargable top-level conjuncts feed
    the hints; the FULL predicate text is returned as ``condition``
    unless every conjunct was captured structurally (then ``None`` — the
    structured spec alone is complete, and keeps working on
    column-mapped tables where free-form text cannot be soundly
    rebound)."""
    if isinstance(pred, str):
        state = SparkSession.active()._jsparkSession.sessionState()
        text = pred
        pred = _Expr(state.sqlParser().parseExpression(text), text)
    else:
        text = pred.text
    if pred.kind == "Or":
        # SQL precedence: AND binds tighter than OR, so NO top-level-AND
        # conjunct of an OR-bearing clause is unconditional — `a OR b AND
        # c` means `a OR (b AND c)`, and pruning on `c` alone would lose
        # `a`-rows. A top-level OR therefore suppresses ALL hints: file
        # pruning degrades to scan-every-live-file (sound, just
        # unselective) and the whole clause rides as the row condition.
        return {}, {}, text
    where: dict[str, tuple] = {}
    where_equals: dict = {}
    captured = _hints(pred.conjuncts(), where, where_equals)
    condition = None if captured and (where or where_equals) else text
    return where, where_equals, condition


# comparison node → the node of the same comparison with its sides swapped
_FLIP = {
    "EqualTo": "EqualTo",
    "GreaterThan": "LessThan",
    "GreaterThanOrEqual": "LessThanOrEqual",
    "LessThan": "GreaterThan",
    "LessThanOrEqual": "GreaterThanOrEqual",
}


def _hints(conjuncts: list[_Expr], where: dict, where_equals: dict) -> bool:
    """Fold the sargable conjuncts into ``where`` / ``where_equals``;
    True when every conjunct is captured exactly (the structured spec
    then stands for the predicate). Sargable: ``col <op> lit`` with the
    literal on either side, ``col BETWEEN lit AND lit`` and ``col IN
    (lits)``; an IN prunes by its [min, max] ENVELOPE, which over-keeps,
    so it always stays in the row-level condition too."""
    captured = True
    for conj in conjuncts:
        kind, kids = conj.kind, conj.kids
        if kind == "In":
            col, vals = _column(kids[0]), [_literal(k) for k in kids[1:]]
            if col is not None and vals and None not in vals:
                try:
                    _merge_range(where, col, min(vals), max(vals))
                except TypeError:
                    pass
            captured = False
            continue
        if kind == "UnresolvedFunction" and len(kids) == 3 and [
            str(p).lower() for p in _seq(conj.j.nameParts())
        ] == ["between"]:
            col, lo, hi = _column(kids[0]), *map(_literal, kids[1:])
            captured = (
                col is not None and lo is not None and hi is not None
                and _merge_range(where, col, lo, hi) and captured
            )
            continue
        if kind not in _FLIP:
            captured = False  # not a sargable shape: row-level only
            continue
        if _column(kids[0]) is None:  # `lit <op> col`
            kind, kids = _FLIP[kind], kids[::-1]
        col, v = _column(kids[0]), _literal(kids[1])
        if col is None or v is None:
            captured = False
        elif kind == "EqualTo":
            # conflicting equality probes (a = 1 AND a = 'x'): mixed-type
            # ones cannot merge — keep the full predicate row-level so the
            # original (vacuous) semantics are re-applied
            captured = (
                where_equals.setdefault(col, v) == v
                and _merge_range(where, col, v, v) and captured
            )
        elif kind.startswith("Greater"):
            # strict treated as inclusive: sound (over-keeps), but the
            # residual condition must then re-apply it
            captured = (
                _merge_range(where, col, v, None) and captured
                and kind.endswith("OrEqual")
            )
        else:
            captured = (
                _merge_range(where, col, None, v) and captured
                and kind.endswith("OrEqual")
            )
    return captured


def _column(e: _Expr) -> str | None:
    """The column a bare one-part reference names, else None."""
    if e.kind == "UnresolvedAttribute" and len(e.parts) == 1:
        return e.parts[0]
    return None


def _literal(e: _Expr):
    """The value of a parsed literal, typed the way the file stats and
    ``F.lit`` compare it, or None when it is not a sargable literal
    (NULL, booleans, NaN and other types). DATE arrives as days since
    the epoch and TIMESTAMP as microseconds since the epoch — the parser
    read its text in the session time zone — so the timestamp becomes a
    UTC-aware ``datetime`` that means the same instant in any process
    time zone."""
    import datetime as _dt
    import decimal

    if e.kind != "Literal":
        return None
    t, v = e.j.dataType().typeName(), e.j.value()
    if t in ("integer", "long", "short", "byte"):
        return int(v)
    if t == "double":
        return v if v == v else None  # NaN orders against nothing
    if t == "string":
        return v.toString()
    if t.startswith("decimal"):
        return decimal.Decimal(v.toString())
    if t == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
    if t == "timestamp":
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return epoch + _dt.timedelta(microseconds=v)
    return None


_OPTIMIZE = re.compile(
    rf"^\s*OPTIMIZE\s+({_TBL})\s*"
    r"(?:WHERE\s+(.*?))?\s*"
    rf"(?:ZORDER\s+BY\s*\(((?:\s*(?:{_IDENT})\s*,?)+)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM = re.compile(
    rf"^\s*VACUUM\s+({_TBL})"
    r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?(\s+DRY\s+RUN)?\s*$",
    re.IGNORECASE,
)
_HISTORY = re.compile(
    rf"^\s*DESCRIBE\s+HISTORY\s+({_TBL})\s*$", re.IGNORECASE
)
_DETAIL = re.compile(
    rf"^\s*DESCRIBE\s+DETAIL\s+({_TBL})\s*$", re.IGNORECASE
)
_RESTORE = re.compile(
    rf"^\s*RESTORE\s+(?:TABLE\s+)?({_TBL})\s+TO\s+(VERSION|TIMESTAMP)"
    r"\s+AS\s+OF\s+(\d+|'(?:[^']|'')*')\s*$",
    re.IGNORECASE,
)
_CONVERT = re.compile(
    rf"^\s*CONVERT\s+TO\s+TXLOG\s+"
    rf"(?:parquet\s*\.\s*`([^`]+)`|({_TBL}))"
    r"(?:\s+PARTITIONED\s+BY\s*\((.*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CLONE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+({_TBL})\s+SHALLOW\s+CLONE\s+({_TBL})"
    r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"
    r"(?:\s+LOCATION\s+'((?:[^']|'')*)')?\s*$",
    re.IGNORECASE,
)
_COPY_INTO = re.compile(
    rf"^\s*COPY\s+INTO\s+({_TBL})\s+FROM\s+'((?:[^']|'')*)'\s+"
    r"FILEFORMAT\s*=\s*(\w+)\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_option_list(table: str, clause: str, body: str) -> dict:
    """``'k' = 'v', …`` inside FORMAT_OPTIONS/COPY_OPTIONS parens."""
    out: dict[str, str] = {}
    for item in _split_top(body, ","):
        if not item.strip():
            continue
        m = re.match(
            r"^\s*'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'\s*$", item
        )
        if not m:
            raise SqlDmlError(
                f"COPY INTO {table}: cannot parse {clause} item "
                f"{item.strip()!r} (expected 'key' = 'value')"
            )
        out[m.group(1).replace("''", "'")] = m.group(2).replace("''", "'")
    return out


def _copy_into(
    spark: SparkSession, table: str, src: str, fmt: str, tail: str
):
    """``COPY INTO db.t FROM '<path>' FILEFORMAT = PARQUET|CSV|JSON
    [PATTERN = '<glob>'] [FORMAT_OPTIONS ('k' = 'v', …)]
    [COPY_OPTIONS ('force' = 'true')]`` — Delta's idempotent bulk-file
    ingestion by name, routed onto :func:`txlog.tx_copy_into` (each
    source file lands exactly once across reruns; the ledger rides the
    same atomic commit as the rows)."""
    pinned = txlog_table_path(spark, table)
    if pinned is None:
        raise SqlDmlError(
            f"COPY INTO {table}: not a registered txlog table (COPY INTO "
            "routes to the transactional writer)"
        )
    path, extra = _writable(table, pinned)
    pattern: str | None = None
    fopts: dict = {}
    copts: dict = {}
    rest = tail.strip()
    while rest:
        m = re.match(
            r"^PATTERN\s*=\s*'((?:[^']|'')*)'\s*(.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            pattern = m.group(1).replace("''", "'")
            rest = m.group(2).strip()
            continue
        m = re.match(
            r"^(FORMAT_OPTIONS|COPY_OPTIONS)\s*\(([^)]*)\)\s*(.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            parsed = _parse_option_list(table, m.group(1).upper(), m.group(2))
            if m.group(1).upper() == "FORMAT_OPTIONS":
                fopts.update(parsed)
            else:
                copts.update(parsed)
            rest = m.group(3).strip()
            continue
        raise SqlDmlError(
            f"COPY INTO {table}: cannot parse clause {rest[:60]!r} "
            "(expected PATTERN = '…', FORMAT_OPTIONS (…), COPY_OPTIONS (…))"
        )
    unknown_copts = set(copts) - {"force"}
    if unknown_copts:
        raise SqlDmlError(
            f"COPY INTO {table}: unsupported COPY_OPTIONS "
            f"{sorted(unknown_copts)} (supported: 'force')"
        )
    from ..sources.txlog import tx_copy_into

    return tx_copy_into(
        spark,
        path,
        src.replace("''", "'"),
        fmt,
        pattern=pattern,
        format_options=fopts or None,
        force=copts.get("force", "false").strip().lower() == "true",
    )


_TRAVEL = re.compile(
    rf"\b(FROM|JOIN|USING)\s+({_TBL})\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"('(?:[^']|'')*'|[0-9][-0-9.:TZ+]*)",
    re.IGNORECASE,
)




def _rewrite_time_travel(spark: SparkSession, stmt: str) -> str:
    """Delta's SQL time travel — ``SELECT … FROM db.t VERSION AS OF 3``
    / ``TIMESTAMP AS OF '2026-08-16'`` — rewritten onto FROZEN catalog
    twins: each travel clause auto-registers ``db.t__asof_…`` pinned at
    that version (idempotent, metadata-only) and the statement text is
    substituted to read from it. Works anywhere a table reference can
    appear (plain SELECTs, MERGE USING sources, INSERT SELECT)."""

    def sub(m: re.Match) -> str:
        kw, tbl, kind, lit = m.groups()
        pinned = txlog_table_path(spark, tbl)
        if pinned is None:
            raise SqlDmlError(
                f"{tbl}: {kind.upper()} AS OF needs a registered txlog "
                "table (plain parquet tables keep no version history)"
            )
        path, _ = pinned
        from .sql_serving import register_txlog_table

        parts = [_unquote(p) for p in tbl.split(".")]
        db = (
            parts[0]
            if len(parts) == 2
            else spark.catalog.currentDatabase()
        )
        base = parts[-1]
        val = _parse_literal(lit)
        if val is None:
            raise SqlDmlError(
                f"{tbl}: cannot parse {kind.upper()} AS OF literal {lit!r}"
            )
        # frozen twins are SELECT-only catalog objects created by this
        # rewriter, so the read-optimized native relation is always safe
        # (ineligible snapshots — DVs, mapping — still fall back)
        if kind.lower() == "version":
            if not isinstance(val, int):
                raise SqlDmlError(
                    f"{tbl}: VERSION AS OF takes an integer, got {lit!r}"
                )
            frozen = f"{base}__asof_v{val}"
            register_txlog_table(
                spark, db, frozen, path, version=val, read_optimized=True
            )
        else:
            import hashlib

            tag = hashlib.sha1(str(val).encode()).hexdigest()[:10]
            frozen = f"{base}__asof_t{tag}"
            register_txlog_table(
                spark, db, frozen, path, timestamp=val, read_optimized=True
            )
        return f"{kw} {db}.{frozen}"

    return _sub_outside_quotes(_TRAVEL, sub, stmt)


def sql_dml(spark: SparkSession, statement: str):
    """Execute one SQL statement by table name. DML/DDL targeting a
    registered txlog table dispatches to the native transactional
    writer and returns the committed VERSION (int) — except CTAS
    (returns the registered name) and VACUUM / DESCRIBE HISTORY / SHOW
    TBLPROPERTIES (return DataFrames). Everything else — including all
    reads — passes through ``spark.sql`` and returns its DataFrame.
    ``VERSION AS OF`` / ``TIMESTAMP AS OF`` table clauses are rewritten
    onto frozen catalog twins first."""
    stmt = statement.strip().rstrip(";")
    m = _RESTORE.match(stmt)  # before _TRAVEL: RESTORE … VERSION AS OF
    if m:
        return _restore(spark, *m.group(1, 2, 3))
    if _TRAVEL.search(stmt):
        stmt = _rewrite_time_travel(spark, stmt)
    m = _CONVERT.match(stmt)
    if m:
        return _convert(spark, m.group(1), m.group(2), m.group(3))
    m = _COPY_INTO.match(stmt)
    if m:
        return _copy_into(spark, *m.group(1, 2, 3, 4))
    m = _CLONE.match(stmt)
    if m:
        return _clone(spark, *m.group(1, 2, 3, 4))
    m = _OPTIMIZE.match(stmt)
    if m:
        return _optimize(spark, m.group(1), m.group(3), m.group(2))
    m = _VACUUM.match(stmt)
    if m:
        return _vacuum(spark, m.group(1), m.group(2), bool(m.group(3)))
    m = _HISTORY.match(stmt)
    if m:
        r = _history(spark, m.group(1))
        if r is not None:
            return r
    m = _DETAIL.match(stmt)
    if m:
        r = _detail(spark, m.group(1))
        if r is not None:
            return r
    plan = _parse_statement(spark, stmt)
    kind = plan.nodeName()
    if re.fullmatch("(Create|Replace)Table(AsSelect)?", kind):
        if str(_opt(plan.tableSpec().provider())).lower() == "txlog":
            return _ctas(spark, plan)
    route = {
        "DeleteFromTable": _delete,
        "UpdateTable": _update,
        "MergeIntoTable": _merge,
        "OverwriteByExpression": _insert_replace_where,
        "InsertIntoStatement": _insert,
    }.get(kind)
    if route is None:
        table = _ddl_table(plan)
        pinned = txlog_table_path(spark, table) if table else None
        if pinned is None:
            return spark.sql(stmt)
        return _ddl(spark, stmt, plan, table, pinned)
    merge = kind == "MergeIntoTable"
    table, _ = _relation(plan.targetTable() if merge else plan.table())
    pinned = txlog_table_path(spark, table) if table else None
    if pinned is None:
        if merge:
            raise SqlDmlError(
                f"MERGE INTO {table}: not a registered txlog table (MERGE "
                "is only routable to the transactional writer)"
            )
        return spark.sql(stmt)  # plain tables keep Spark's own DML
    return route(spark, stmt, plan, table, _writable(table, pinned)[0])


def sql_script(spark: SparkSession, script: str) -> list:
    """Execute a multi-statement SQL script (the ``.sql``-file persona):
    comments stripped (:func:`_strip_comments`), then statements split
    on TOP-LEVEL semicolons (quoted literals, backquoted identifiers and
    parenthesized subqueries keep theirs), each routed through
    :func:`sql_dml`. Returns the per-statement results in order; the
    first failing statement raises (no savepoints — the txlog writers
    are each atomic, so a failed script leaves every completed statement
    committed, exactly Delta's multi-statement semantics)."""
    out = []
    for stmt in _split_top(_strip_comments(script), ";"):
        if stmt.strip():
            out.append(sql_dml(spark, stmt))
    return out


def _strip_comments(text: str) -> str:
    """Drop ``-- …`` and (nested, as Spark's lexer nests them) ``/* …
    */`` comments in one quote-aware pass over the whole text: a comment
    opener inside a string literal or a backquoted identifier is data,
    and a literal may span lines. A bracketed comment becomes one space;
    a line comment keeps its newline; optimizer hints (``/*+ … */``)
    stay."""
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if c in "'\"`":
            j = i + 1
            while j < n and text[j] != c:
                j += 2 if text[j] == "\\" and c != "`" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif text.startswith("--", i):
            j = text.find("\n", i)
            i = n if j == -1 else j
        elif text.startswith("/*", i) and not text.startswith("/*+", i):
            depth, i = 1, i + 2
            while i < n and depth:
                step = text[i:i + 2]
                depth += (step == "/*") - (step == "*/")
                i += 2 if step in ("/*", "*/") else 1
            out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out)


# ------------------------------------------------------ the parse tree
#
# Thin views over the JVM nodes of Spark's unresolved plan. Every
# accessor is a py4j round trip, so an expression is mirrored into
# Python once (class name, own origin span, children) and read there.

# expression nodes that carry a query plan of their own
_SUBQUERIES = frozenset({"ListQuery", "Exists", "ScalarSubquery"})


def _parse_statement(spark: SparkSession, stmt: str):
    """Spark's unresolved plan for ``stmt``; a malformed statement
    raises pyspark's ``ParseException`` — except the REPLACE WHERE
    variants Spark's grammar lacks, which keep the router's refusal."""
    try:
        return spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)
    except ParseException as e:
        if e.getCondition() == "UNSUPPORTED_FEATURE.SET_TABLE_PROPERTY":
            plan = _set_reserved_properties(spark, stmt)
            if plan is not None:
                return plan
        if re.match(r"\s*INSERT\b.*\bREPLACE\s+WHERE\b", stmt, re.I | re.S):
            raise SqlDmlError(
                "INSERT: REPLACE WHERE takes the plain `INSERT INTO t "
                "REPLACE WHERE <pred> <query>` form (no OVERWRITE, column "
                "list or PARTITION spec)"
            ) from e
        raise


def _set_reserved_properties(spark: SparkSession, stmt: str):
    """The ``SetTableProperties`` plan of an ``ALTER TABLE … SET
    TBLPROPERTIES`` that names a key Spark reserves for its own catalog
    (``owner``, ``location``, ``provider``): Spark's parser refuses it
    after reading the pairs, but in a txlog table's record these are
    plain properties. The plan is rebuilt from Spark's own parse tree —
    its lexer, grammar and ``visitPropertyKeyValues`` — without the
    reserved-key check; on any other table ``spark.sql`` refuses it.
    None for every other statement Spark refuses this way (``CREATE
    TABLE … TBLPROPERTIES ('owner' …)``, ``ALTER VIEW``): its caller
    re-raises Spark's own error."""
    C, A = spark._jvm.org.apache.spark.sql.catalyst, spark._jvm.org.antlr.v4
    chars = A.runtime.CharStreams.fromString(stmt)
    lexer = C.parser.SqlBaseLexer(C.parser.UpperCaseCharStream(chars))
    tokens = A.runtime.CommonTokenStream(lexer)
    parser = C.parser.SqlBaseParser(tokens)
    # the session's parser flags (double-quoted identifiers, ANSI
    # keywords) and error listeners, as Spark's own parsePlan sets them
    C.parser.AbstractParser.configureParser(
        parser, stmt, tokens, spark._jsparkSession.sessionState().conf()
    )
    tree = parser.singleStatement().statement()
    if (
        tree.getClass().getSimpleName() != "SetTablePropertiesContext"
        or tree.VIEW() is not None
    ):
        return None
    build = spark._jsparkSession.sessionState().sqlParser().astBuilder()
    table = C.analysis.UnresolvedTable(
        build.visitMultipartIdentifier(
            tree.identifierReference().multipartIdentifier()
        ),
        "ALTER TABLE ... SET TBLPROPERTIES",
        True,
    )
    return C.plans.logical.SetTableProperties(
        table, build.visitPropertyKeyValues(tree.propertyList())
    )


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


def _name(jattr) -> list[str]:
    """Name parts of an ``UnresolvedAttribute`` (unquoted)."""
    return [str(p) for p in _seq(jattr.nameParts())]


def _df(spark: SparkSession, jplan) -> DataFrame:
    """A DataFrame over a parsed sub-plan — what ``spark.sql`` builds
    from that plan's own text."""
    jvm = spark._jvm
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, jplan
        ),
        spark,
    )


def _relation(jplan) -> tuple[str | None, str | None]:
    """``("db.t", alias)`` of a parsed table reference ``db.t [AS a]``;
    the name is None when the plan is not a plain table name."""
    alias = None
    if jplan.nodeName() == "SubqueryAlias":
        alias, jplan = str(jplan.alias()), jplan.child()
    if jplan.nodeName() != "UnresolvedRelation":
        return None, alias
    return ".".join(str(p) for p in _seq(jplan.multipartIdentifier())), alias


class _Expr:
    """One parsed Catalyst expression mirrored into Python: class name,
    its OWN origin span in ``sql``, its children (a subquery's plan is
    not a child — ``j.plan()`` reaches it) and the JVM handle ``j``."""

    __slots__ = ("j", "sql", "kind", "lo", "hi", "kids")

    def __init__(self, j, sql: str):
        self.j, self.sql, self.kind = j, sql, j.nodeName()
        o = j.origin()
        self.lo, self.hi = _opt(o.startIndex()), _opt(o.stopIndex())
        if self.kind == "Literal" and j.sql() in ("true", "false"):
            # the parser hands out shared TRUE/FALSE literal objects whose
            # origin is that of whichever statement first built them
            self.lo = self.hi = None
        self.kids = [_Expr(c, sql) for c in _seq(j.children())]

    def walk(self):
        yield self
        for k in self.kids:
            yield from k.walk()

    def span(self) -> tuple[int, int] | None:
        """``(lo, hi)`` of the whole subtree in ``sql`` (see the module
        docstring). A parenthesized leftmost operand's origin excludes
        its parentheses, so a span that closes more of them than it
        opens starts that many ``(`` earlier."""
        spans = [(n.lo, n.hi) for n in self.walk() if n.lo is not None]
        if not spans:
            return None
        lo, hi = min(a for a, _ in spans), max(b for _, b in spans)
        seg = list(self.sql[lo:hi + 1])
        for a, b in _quoted_spans(self.sql[lo:hi + 1]):
            seg[a:b] = " " * (b - a)
        depth = low = 0
        for c in seg:
            depth += (c == "(") - (c == ")")
            low = min(low, depth)
        for _ in range(-low):
            lo = self.sql.rindex("(", 0, lo)
        return lo, hi

    @property
    def text(self) -> str:
        span = self.span()
        # a bare TRUE/FALSE has no usable origin; its own SQL is exact
        return self.j.sql() if span is None else self.sql[span[0]:span[1] + 1]

    @property
    def parts(self) -> list[str]:
        return _name(self.j)

    def conjuncts(self) -> list["_Expr"]:
        if self.kind == "And":
            return [c for k in self.kids for c in k.conjuncts()]
        return [self]

    def has_subquery(self) -> bool:
        return any(n.kind in _SUBQUERIES for n in self.walk())


def _rewrite_attrs(e: _Expr, fn) -> str:
    """``e.text`` with every ``UnresolvedAttribute`` span replaced by
    ``fn(name parts)``; ``fn`` returning None keeps it as written.
    Function names, keywords, INTERVAL units and literals are not
    attributes, so they are never touched."""
    span = e.span()
    if span is None:
        return e.text
    out, last = [], span[0]
    attrs = (n for n in e.walk() if n.kind == "UnresolvedAttribute")
    for n in sorted(attrs, key=lambda n: n.lo):
        new = fn(n.parts)
        if new is not None:
            out += [e.sql[last:n.lo], new]
            last = n.hi + 1
    return "".join(out) + e.sql[last:span[1] + 1]


def _delete(spark: SparkSession, stmt: str, plan, table: str, path: str):
    from ..sources.txlog import tx_delete

    pred = _Expr(plan.condition(), stmt)
    # without WHERE the parser supplies the same shared TRUE literal an
    # explicit `WHERE true` parses to (and `DELETE FROM t WHERE` parses
    # WHERE as the table alias), so only the spelled-out form deletes all
    if pred.text == "true" and not re.search(
        r"\bWHERE\s+true\s*$", _strip_comments(stmt), re.I
    ):
        raise SqlDmlError(
            f"DELETE FROM {table} without WHERE would truncate the table; "
            "say WHERE true to mean it"
        )
    if pred.has_subquery():
        return _dml_by_subquery(spark, table, path, pred)
    where, where_equals, condition = parse_predicate(pred)
    return tx_delete(
        spark,
        path,
        where=where or None,
        where_equals=where_equals or None,
        condition=condition,
    )


# the point-DML-by-list path stays file-pruned up to this many keys;
# larger subquery results route through the distributed merge
_SUBQ_INLINE_MAX = 1000


def _exists_keys(
    spark: SparkSession, table: str, verb: str, ex: _Expr
) -> tuple[str, DataFrame]:
    """The key set of ONE ``EXISTS (SELECT … FROM src WHERE <inner>)``
    conjunct whose inner WHERE carries exactly one correlated equality
    ``t.k = <src column>``: ``(k, SELECT <src column> FROM src [WHERE
    rest])`` — the routable ``k IN (…)`` shape, semantically identical
    for equality correlation (NULLs match neither way). The OUTER side
    must be qualified by the target name (an unqualified name inside the
    subquery scope binds to the source); any other outer reference, or
    any other subquery shape, is refused loudly."""
    parts = [p.lower() for p in table.split(".")]
    outer = {parts[-1], ".".join(parts)}

    def is_outer(n: _Expr) -> bool:
        return (
            n.kind == "UnresolvedAttribute"
            and ".".join(n.parts[:-1]).lower() in outer
        )

    refusal = SqlDmlError(
        f"{verb} {table}: this EXISTS shape is not routable — "
        "supported: one EXISTS (SELECT … FROM src WHERE "
        f"{parts[-1]}.k = <src column> [AND <src-only conjuncts>]); "
        "otherwise rewrite as k IN (SELECT …) or as MERGE … WHEN MATCHED"
    )
    query = ex.j.plan()
    filt = query.child() if query.nodeName() == "Project" else None
    if filt is None or filt.nodeName() != "Filter":
        raise refusal
    corr, rest = None, []
    for conj in _Expr(filt.condition(), ex.sql).conjuncts():
        sides = conj.kids if conj.kind == "EqualTo" else []
        if (
            all(s.kind == "UnresolvedAttribute" for s in sides)
            and [is_outer(s) for s in sides] in ([True, False], [False, True])
        ):
            if corr is not None:
                raise refusal  # two correlated equalities
            o, s = sides if is_outer(sides[0]) else sides[::-1]
            corr = (o.parts[-1], s.text)
        elif any(is_outer(n) for n in conj.walk()):
            raise refusal  # would dangle outside the subquery
        else:
            rest.append(conj.text)
    if corr is None:
        raise refusal
    keys = _df(spark, filt.child())
    if rest:
        keys = keys.where(" AND ".join(f"({c})" for c in rest))
    return corr[0], keys.select(F.expr(corr[1]))


def _subquery_keys(
    spark: SparkSession, table: str, verb: str, pred: _Expr
) -> tuple[str, DataFrame, list[_Expr]]:
    """Decompose a subquery-bearing WHERE into (key column, key
    DataFrame, residual conjuncts) for the routable ``k IN (SELECT
    …) [AND …]`` shape, or refuse loudly (OR-combined, NOT IN/NOT
    EXISTS, multiple subqueries). A correlated-equality ``EXISTS``
    routes onto the same IN tier first (:func:`_exists_keys`)."""
    if pred.kind == "Or":
        raise SqlDmlError(
            f"{verb} {table}: subquery predicates cannot combine "
            "with top-level OR — split the statement"
        )
    if any(
        n.kind == "Not" and n.kids[0].kind == "Exists" for n in pred.walk()
    ):
        raise SqlDmlError(
            f"{verb} {table}: NOT EXISTS is refused — use MERGE … WHEN "
            "NOT MATCHED BY SOURCE for anti-join semantics"
        )
    found, residual = [], []
    for conj in pred.conjuncts():
        if conj.kind == "Exists":
            found.append(_exists_keys(spark, table, verb, conj))
        elif conj.kind == "Not" and conj.kids[0].kind == "InSubquery":
            raise SqlDmlError(
                f"{verb} {table}: NOT IN (SELECT …) is refused "
                "(NULL in the subquery silently matches nothing in "
                "SQL) — use MERGE … WHEN NOT MATCHED BY SOURCE for "
                "anti-join semantics"
            )
        elif (
            conj.kind == "InSubquery"
            and len(conj.kids) == 2
            and conj.kids[0].kind == "UnresolvedAttribute"
            and len(conj.kids[0].parts) == 1
        ):
            key, query = conj.kids
            found.append((key.parts[0], _df(spark, query.j.plan())))
        elif conj.has_subquery():
            raise SqlDmlError(
                f"{verb} {table}: cannot route subquery in "
                f"{conj.text!r} (supported: one top-level "
                "k IN (SELECT …) conjunct)"
            )
        else:
            residual.append(conj)
    if len(found) > 1:
        raise SqlDmlError(
            f"{verb} {table}: at most one IN (SELECT …) "
            "conjunct is routable per statement"
        )
    return (*found[0], residual)


def _subquery_keys_tier(
    spark: SparkSession, table: str, verb: str, col: str, keys_df: DataFrame
):
    """Run the IN-subquery once and pick the tier: returns
    ``("inline", [key values])`` when ≤ ``_SUBQ_INLINE_MAX`` renderable
    distinct keys (file pruning stays intact), else ``("merge",
    keys_df)`` for the distributed hash semi-join path. An
    empty/all-NULL key list returns ``("empty", None)``."""
    import datetime as _dt

    from pyspark.sql.types import TimestampType

    if len(keys_df.columns) != 1:
        raise SqlDmlError(
            f"{verb} {table}: IN subquery must produce exactly one "
            f"column, got {len(keys_df.columns)}"
        )
    sample = keys_df.distinct().limit(_SUBQ_INLINE_MAX + 1).collect()
    vals = [r[0] for r in sample if r[0] is not None]
    if len(sample) <= _SUBQ_INLINE_MAX:
        if not vals:
            return "empty", None
        if isinstance(keys_df.schema[0].dataType, TimestampType):
            # collected timestamps are naive process-local times, but a
            # rendered TIMESTAMP literal is read in the session zone
            vals = [v.astimezone(_dt.timezone.utc) for v in vals]
        if all(_render_literal(v) is not None for v in vals):
            return "inline", vals
    return "merge", keys_df.toDF(col).distinct()


def _dml_by_subquery(
    spark: SparkSession,
    table: str,
    path: str,
    pred: _Expr,
    set_items: dict[str, str] | None = None,
):
    """``DELETE FROM t WHERE k IN (SELECT …) [AND …]`` — the GDPR
    bulk-delete-by-list shape — and, with ``set_items``, ``UPDATE t SET
    c = expr, … WHERE k IN (SELECT …) [AND …]``, the redact-by-list
    shape. Two-tier:

    - ≤ ``_SUBQ_INLINE_MAX`` distinct keys: inlined as a literal IN-list
      and routed through the normal predicate path, so range-stats +
      Bloom FILE PRUNING still applies (a bulk point-delete on a
      bloom-indexed 100 TB table rewrites only the files that can
      contain the keys);
    - larger: routed as ``MERGE INTO t USING keys ON t.k = s.k WHEN
      MATCHED [AND residual] THEN DELETE | UPDATE SET …`` — a
      distributed hash semi-join; past the tier probe no key is
      collected. Assignments and residual conjuncts are qualified onto
      the target side: they reference no source column, the key list
      only selects rows.

    ``NOT IN (SELECT …)`` and ``NOT EXISTS`` are refused loudly (NOT
    IN's null semantics are a trap; express the intent as WHEN NOT
    MATCHED BY SOURCE THEN DELETE via MERGE)."""
    from ..sources.txlog import current_version, tx_delete, tx_merge, tx_update

    verb = "DELETE FROM" if set_items is None else "UPDATE"
    col, keys_df, residual = _subquery_keys(spark, table, verb, pred)
    tier, payload = _subquery_keys_tier(spark, table, verb, col, keys_df)
    if tier == "empty":  # IN matches nothing
        return current_version(spark, path)
    if tier == "inline":
        # the IN envelope comes from the keys themselves, the other hints
        # from the residual conjuncts; the IN stays row-level
        where: dict[str, tuple] = {}
        where_equals: dict = {}
        _merge_range(where, col, min(payload), max(payload))
        _hints(residual, where, where_equals)
        spec = {
            "where": where,
            "where_equals": where_equals or None,
            "condition": " AND ".join(
                [f"{col} IN ({', '.join(map(_render_literal, payload))})"]
                + [f"({c.text})" for c in residual]
            ),
        }
        if set_items is None:
            return tx_delete(spark, path, **spec)
        return tx_update(
            spark, path,
            assignments={c: F.expr(e) for c, e in set_items.items()},
            **spec,
        )
    tgt_cols = spark.table(table).columns
    clause = {
        "cond": " AND ".join(
            f"({_qualify_target(c.text, tgt_cols)})" for c in residual
        ) or None,
        "action": "delete",
    }
    if set_items is not None:
        clause["action"] = "update"
        clause["set"] = {
            c: _qualify_target(e, tgt_cols) for c, e in set_items.items()
        }
    return tx_merge(
        spark, payload, path, keys=[col], clauses={"matched": [clause]}
    )


def _render_literal(v) -> str | None:
    """A Python value as a SQL literal, or None when not renderable."""
    import datetime as _dt

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, _dt.datetime):  # before date — datetime IS a date
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        # the rendered list is re-parsed by F.expr, where backslash is
        # an escape character (escapedStringLiterals default) — escape
        # it FIRST, then double the quotes, or keys containing \ would
        # round-trip to a different value and silently miss rows
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    return None


def _qualify_target(conj: str, tgt_cols: list[str]) -> str:
    """Qualify references to ACTUAL target-table columns of a residual
    DELETE/UPDATE conjunct onto the merge's target side (``t.``). Only
    bare names present in ``tgt_cols`` are rewritten (mirroring
    ``_make_rebinder``'s schema-membership rule); the conjunct is parsed
    as an expression, so SQL keywords, function names, INTERVAL units
    (``INTERVAL 1 DAY``), ``extract(year FROM d)`` fields and quoted
    text are never column references."""
    low = {c.lower(): c for c in tgt_cols}
    parser = SparkSession.active()._jsparkSession.sessionState().sqlParser()

    def sub(parts: list[str]) -> str | None:
        col = low.get(parts[0].lower()) if len(parts) == 1 else None
        return None if col is None else f"t.`{col}`"

    return _rewrite_attrs(_Expr(parser.parseExpression(conj), conj), sub)


def _update(spark: SparkSession, stmt: str, plan, table: str, path: str):
    from ..sources.txlog import tx_update

    set_items: dict[str, str] = {}
    for a in _seq(plan.assignments()):
        col, value = _name(a.key()), _Expr(a.value(), stmt).text
        if len(col) != 1:
            raise SqlDmlError(
                f"UPDATE {table}: cannot parse assignment "
                f"{'.'.join(col) + ' = ' + value!r}"
            )
        set_items[col[0]] = value
    pred = _opt(plan.condition())
    pred = _Expr(pred, stmt) if pred is not None else None
    if pred is not None and pred.has_subquery():
        return _dml_by_subquery(spark, table, path, pred, set_items)
    assignments = {c: F.expr(e) for c, e in set_items.items()}
    if pred is not None:
        where, where_equals, condition = parse_predicate(pred)
    else:
        # SQL UPDATE without WHERE touches every row
        where, where_equals, condition = {}, {}, "true"
    return tx_update(
        spark,
        path,
        assignments=assignments,
        where=where or None,
        where_equals=where_equals or None,
        condition=condition,
    )


def _merge(spark: SparkSession, stmt: str, plan, table: str, path: str):
    """``MERGE [WITH SCHEMA EVOLUTION] INTO t USING s ON <equi-keys>
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` —
    the upsert shape ``tx_merge`` implements (source wins on every
    column; K3). ``WITH SCHEMA EVOLUTION`` is Delta's clause for
    drifting upstream schemas: new source columns EXTEND the table
    schema (existing rows null-pad) instead of refusing — threaded as
    ``tx_merge(schema_evolution=True)``. The optional ``WHEN NOT
    MATCHED BY SOURCE THEN DELETE`` maps to
    ``not_matched_by_source='delete'`` (full-sync semantics). Any other
    clause mix goes to :func:`_merge_general`."""
    from ..sources.txlog import tx_merge

    keys = _merge_keys(table, _Expr(plan.mergeCondition(), stmt))
    evolve = plan.withSchemaEvolution()
    clauses = {
        "matched": _seq(plan.matchedActions()),
        "not_matched": _seq(plan.notMatchedActions()),
        "not_matched_by_source": _seq(plan.notMatchedBySourceActions()),
    }
    shape = {
        k: [(a.nodeName(), a.condition().isDefined()) for a in v]
        for k, v in clauses.items()
    }
    source = _df(spark, plan.sourceTable())
    if (
        shape["matched"] == [("UpdateStarAction", False)]
        and shape["not_matched"] == [("InsertStarAction", False)]
        and shape["not_matched_by_source"] in ([], [("DeleteAction", False)])
    ):
        # the upsert-all fast path (K3): source wins every column
        v = tx_merge(
            spark,
            source,
            path,
            keys=keys,
            not_matched_by_source=(
                "delete" if shape["not_matched_by_source"] else None
            ),
            schema_evolution=evolve,
        )
        if evolve:
            # a new column is immediately visible by name (same refresh
            # ALTER TABLE ADD COLUMN performs)
            _reregister(spark, table, path)
        return v
    if evolve:
        # tx_merge refuses clauses+schema_evolution (explicit column
        # lists pin the shape) — surface that as a router-level refusal
        raise SqlDmlError(
            f"MERGE INTO {table}: WITH SCHEMA EVOLUTION is only "
            "supported on the UPDATE SET * / INSERT * shape — general "
            "WHEN clauses pin explicit columns; add the column with "
            "ALTER TABLE ADD COLUMN first"
        )
    return _merge_general(
        spark, stmt, table, path, keys, source, clauses,
        _relation(plan.targetTable())[1], _relation(plan.sourceTable()),
    )


def _merge_keys(table: str, on: _Expr) -> list[str]:
    """The join keys of ``ON t.k = s.k [AND …]``: every conjunct an
    equality of two column references with the same column name."""
    keys = []
    for conj in on.conjuncts():
        sides = conj.kids if conj.kind == "EqualTo" else []
        ok = len(sides) == 2 and all(
            s.kind == "UnresolvedAttribute" and len(s.parts) <= 2
            for s in sides
        )
        if ok:
            lp, rp = sides[0].parts, sides[1].parts
            # same column name on both sides, and when both sides are
            # qualified they must name DIFFERENT relations (t.k = t.k
            # is a self-comparison, not a join key)
            ok = lp[-1] == rp[-1] and not (
                len(lp) == len(rp) == 2 and lp[0] == rp[0]
            )
        if not ok:
            raise SqlDmlError(
                f"MERGE INTO {table}: ON must be equi-join conjuncts "
                f"t.k = s.k on the same column name (got {conj.text!r})"
            )
        keys.append(sides[0].parts[-1])
    return keys


def _make_rebinder(
    table: str,
    tgt_names: set,
    src_names: set,
    tgt_cols: list[str],
    src_cols: list[str],
):
    """Expression canonicalizer for WHEN-clause conditions/assignments:
    alias-qualified references (``a.col``, ``db.t.col``) rewrite onto
    the fixed ``t.``/``s.`` namespace ``tx_merge`` binds; BARE
    references resolve by schema membership (one side → qualified to
    it; both → refused as ambiguous; neither → left alone). Only
    ``UnresolvedAttribute`` spans are rewritten."""
    t_low = {c.lower(): c for c in tgt_cols}
    s_low = {c.lower(): c for c in src_cols}

    def rebind(expr: _Expr) -> str:
        def sub(parts: list[str]) -> str | None:
            if len(parts) > 1:
                for k in (2, 1):  # db.t.col, then t.col
                    q = ".".join(parts[:k]).lower()
                    col = ".".join(
                        "`" + p.replace("`", "``") + "`" for p in parts[k:]
                    )
                    if len(parts) > k and q in tgt_names:
                        return f"t.{col}"
                    if len(parts) > k and q in src_names:
                        return f"s.{col}"
                raise SqlDmlError(
                    f"MERGE INTO {table}: unknown qualifier "
                    f"{parts[0].lower()!r} in {expr.text!r} (target: "
                    f"{sorted(tgt_names)}, source: {sorted(src_names)})"
                )
            name = parts[0]
            in_t, in_s = name.lower() in t_low, name.lower() in s_low
            if in_t and in_s:
                raise SqlDmlError(
                    f"MERGE INTO {table}: reference {name!r} in "
                    f"{expr.text!r} is ambiguous — qualify it with the "
                    "target or source alias"
                )
            if in_t:
                return f"t.`{t_low[name.lower()]}`"
            if in_s:
                return f"s.`{s_low[name.lower()]}`"
            return None  # not a column of either side

        return _rewrite_attrs(expr, sub)

    return rebind


def _merge_general(
    spark: SparkSession,
    stmt: str,
    table: str,
    path: str,
    keys: list[str],
    source: DataFrame,
    actions: dict[str, list],
    tgt_alias: str | None,
    src_rel: tuple[str | None, str | None],
):
    """Delta's general MERGE: ``ON <equi-keys>`` followed by any mix of
    ``WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, … | UPDATE SET
    * | DELETE``, ``WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT
    (cols) VALUES (exprs) | INSERT *`` and ``WHEN NOT MATCHED BY SOURCE
    [AND cond] THEN DELETE | UPDATE SET …`` — first matching clause per
    row, routed onto ``tx_merge(clauses=…)``. Conditions/expressions may
    reference columns bare (when unambiguous) or qualified by the
    statement's aliases; both forms canonicalize to ``t.``/``s.``."""
    from ..sources.txlog import tx_merge

    tgt_names = {table.split(".")[-1].lower(), table.lower()}
    if tgt_alias:
        tgt_names.add(tgt_alias.lower())
    src_table, src_alias = src_rel
    src_names = {src_alias.lower()} if src_alias else set()
    if src_table:  # direct table source: its (unqualified) name also qualifies
        src_names.update({src_table.split(".")[-1].lower(), src_table.lower()})
    overlap = tgt_names & src_names
    if overlap:
        raise SqlDmlError(
            f"MERGE INTO {table}: alias {sorted(overlap)} names both "
            "sides — give the source a distinct alias"
        )
    tgt_cols = spark.table(table).columns
    rebind = _make_rebinder(
        table, tgt_names, src_names, tgt_cols, source.columns
    )
    tgt_low = {c.lower(): c for c in tgt_cols}

    def assigned(action, verb: str) -> dict[str, str]:
        """Target column → rebound value of an UPDATE SET / INSERT
        VALUES action; the ``*`` forms take every column from the
        source."""
        if action.nodeName().endswith("StarAction"):
            return {c: f"s.`{c}`" for c in tgt_cols}
        out: dict[str, str] = {}
        for a in _seq(action.assignments()):
            parts, value = _name(a.key()), _Expr(a.value(), stmt)
            if verb == "INSERT":
                col = tgt_low.get(".".join(parts).lower())
                if col is None:
                    raise SqlDmlError(
                        f"MERGE INTO {table}: INSERT names unknown "
                        f"column(s) {['.'.join(parts)]}"
                    )
            else:
                qualifier = ".".join(parts[:-1]).lower()
                if qualifier and qualifier not in tgt_names:
                    item = f"{'.'.join(parts)} = {value.text}"
                    raise SqlDmlError(
                        f"MERGE INTO {table}: SET target {item!r} must "
                        "name a TARGET column"
                    )
                col = tgt_low.get(parts[-1].lower())
                if col is None:
                    raise SqlDmlError(
                        f"MERGE INTO {table}: SET names unknown column "
                        f"{parts[-1]!r}"
                    )
            out[col] = rebind(value)
        return out

    clauses: dict[str, list] = {}
    for kind, group in actions.items():
        for action in group:
            cond = _opt(action.condition())
            clause = {
                "cond": rebind(_Expr(cond, stmt)) if cond is not None else None
            }
            name = action.nodeName()
            if name == "DeleteAction":
                clause.update(action="delete", set=None)
            elif name.startswith("Update"):
                clause.update(action="update", set=assigned(action, "SET"))
            else:  # the grammar allows only INSERT actions besides these
                clause.update(
                    action="insert", values=assigned(action, "INSERT")
                )
            clauses.setdefault(kind, []).append(clause)
    return tx_merge(spark, source, path, keys=keys, clauses=clauses)


def _snapshot(spark: SparkSession, table: str, path: str):
    """``(manifest, schema)`` of the table's current version."""
    import json

    from pyspark.sql.types import StructType

    from ..sources import txlog as TX

    cur = TX.current_version(spark, path)
    if cur is None:
        raise SqlDmlError(f"{table}: no committed txlog version at {path}")
    manifest = TX.read_manifest(spark, path, cur)
    return manifest, StructType.fromJson(json.loads(manifest["schema"]))


def _insert(spark: SparkSession, stmt: str, plan, table: str, path: str):
    from ..sources import txlog as TX

    if plan.byName() or plan.ifPartitionNotExists():
        raise SqlDmlError(
            f"INSERT {table}: BY NAME and IF NOT EXISTS are not routable "
            "— list the columns instead"
        )
    df = _df(spark, plan.query())
    manifest, schema = _snapshot(spark, table, path)
    target_cols = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    # partition columns are TABLE metadata (property-recorded, survives
    # TRUNCATE's zero-file state; legacy tables derive from file paths)
    partition_by = TX.table_partition_columns(manifest)
    # static/dynamic PARTITION spec: `PARTITION (p = v [, q])` pins the
    # static columns to literals (the query must NOT produce them) and
    # declares the rest dynamic; the spec must name exactly the table's
    # partition columns (Spark/Hive static-partition INSERT semantics).
    # The parser hands static values over as strings; the cast to the
    # column type below types them.
    static: dict[str, object] = {}
    dyn: list[str] = []
    spec = plan.partitionSpec().iterator()
    while spec.hasNext():
        item = spec.next()
        col, value = str(item._1()), item._2()
        if not value.isDefined():
            dyn.append(col)
        elif value.get() is None:
            raise SqlDmlError(
                f"INSERT {table} PARTITION: cannot parse literal 'NULL'"
            )
        else:
            static[col] = value.get()
    if static or dyn:
        spec_cols = sorted(list(static) + dyn)
        if spec_cols != sorted(partition_by):
            raise SqlDmlError(
                f"INSERT {table} PARTITION: spec names {spec_cols} but "
                f"the table's partition columns are {sorted(partition_by)}"
            )
    col_list = [str(c) for c in _seq(plan.userSpecifiedCols())]
    if col_list:
        names = col_list
        unknown = [c for c in names if c not in target_cols]
        if unknown:
            raise SqlDmlError(
                f"INSERT into {table}: unknown column(s) {unknown}"
            )
        clash = [c for c in names if c in static]
        if clash:
            raise SqlDmlError(
                f"INSERT into {table}: column(s) {clash} are pinned by the "
                "static PARTITION spec and cannot appear in the column list"
            )
    else:
        names = [c for c in target_cols if c not in static]
    if len(df.columns) != len(names):
        raise SqlDmlError(
            f"INSERT into {table}: query produces {len(df.columns)} "
            f"column(s), target list has {len(names)}"
        )
    if len(set(names)) != len(names):
        raise SqlDmlError(
            f"INSERT into {table}: duplicate target column in {names}"
        )
    # positional rename + cast to the target type (SQL INSERT semantics).
    # toDF renames BY POSITION — by-name alignment breaks when the query
    # emits duplicate auto-generated names (SELECT CAST(2 AS BIGINT),
    # CAST(2 AS BIGINT) names both columns identically)
    aligned = df.toDF(*names).select(
        *(F.col(f"`{c}`").cast(types[c]).alias(c) for c in names)
    )
    if static:
        provided = set(names) | set(static)
        aligned = aligned.select(
            *(
                F.lit(static[c]).cast(types[c]).alias(c)
                if c in static
                else F.col(f"`{c}`")
                for c in target_cols
                if c in provided
            )
        )
        names = [c for c in target_cols if c in provided]
    if not plan.overwrite():
        mode = "append"
    elif partition_by:
        # K1 by name: replace ONLY the partitions present in the rows
        mode = "overwrite_dynamic"
    else:
        mode = "overwrite"
    if mode == "overwrite" and len(names) < len(target_cols):
        # plain overwrite replaces the table schema with the frame's, so
        # unlisted columns must NULL-fill here (SQL semantics) or they
        # would silently vanish from the table — EXCEPT columns with a
        # DEFAULT / IDENTITY / GENERATED definition, which the enforcing
        # writer fills when omitted (padding would mask them). Append and
        # dynamic overwrite keep unlisted columns via schema merge.
        props = manifest.get("properties", {})
        special = (
            set(TX._column_defaults(props))
            | set(TX._identity_cols(props))
            | set(TX._generated_cols(props))
        )
        aligned = aligned.select(
            *(
                F.col(c) if c in names else F.lit(None).cast(types[c]).alias(c)
                for c in target_cols
                if c in names or c not in special
            )
        )
    return TX.tx_write(
        spark, aligned, path, mode=mode,
        partition_by=partition_by or None,
    )


def _convert(
    spark: SparkSession,
    path: str | None,
    table: str | None,
    part_spec: str | None,
):
    """``CONVERT TO TXLOG parquet.`/path` | db.plain_table [PARTITIONED
    BY (col TYPE, …)]`` — Delta's CONVERT TO DELTA, both address forms.
    The by-NAME form resolves a crawler-registered external parquet
    table's location, converts it in place, and RE-REGISTERS the same
    name over the txlog pinned format — the catalog consumer keeps the
    name and gains the transactional surface (DML, travel, OPTIMIZE)."""
    from ..sources.txlog import tx_convert

    cols: list[str] | None = None
    types: dict[str, str] = {}
    if part_spec:
        # Delta's CONVERT spec declares partition TYPES (the hive
        # dirs carry only strings): `PARTITIONED BY (g BIGINT)`
        cols = []
        for item in _split_top(part_spec, ","):
            pm = re.match(
                rf"^\s*({_IDENT})(?:\s+(.+?))?\s*$", item, re.DOTALL
            )
            if not pm:
                raise SqlDmlError(
                    f"CONVERT TO TXLOG: cannot parse PARTITIONED BY "
                    f"item {item.strip()!r}"
                )
            name = _unquote(pm.group(1))
            cols.append(name)
            if pm.group(2):
                types[name] = pm.group(2)
    if path is not None:
        return tx_convert(
            spark, path, partition_by=cols, partition_types=types or None
        )
    # by-name: resolve the registered parquet table's storage location
    if txlog_table_path(spark, table) is not None:
        raise SqlDmlError(
            f"CONVERT TO TXLOG {table}: already a txlog table"
        )
    parts = [_unquote(p) for p in table.split(".")]
    fq = ".".join(parts)
    try:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {fq}").collect()
    except AnalysisException as e:
        raise SqlDmlError(
            f"CONVERT TO TXLOG {table}: cannot describe ({e})"
        )
    loc = next(
        (str(r.data_type) for r in rows if r.col_name == "Location"), None
    )
    if loc is None:
        raise SqlDmlError(
            f"CONVERT TO TXLOG {table}: no storage Location (views and "
            "temp tables have no files to convert)"
        )
    loc = loc.removeprefix("file:")
    v = tx_convert(
        spark, loc, partition_by=cols, partition_types=types or None
    )
    _reregister(spark, table, loc)
    return v


def _insert_replace_where(
    spark: SparkSession, stmt: str, plan, table: str, path: str
):
    """``INSERT INTO db.t REPLACE WHERE <pred> <query>`` — Delta's
    arbitrary-predicate atomic overwrite (`tx_replace_where`): one
    commit deletes the predicate's rows (file-pruned) and lands the
    query's rows, which must all SATISFY the predicate."""
    from ..sources import txlog as TX

    pred = _Expr(plan.deleteExpr(), stmt)
    if pred.has_subquery():
        raise SqlDmlError(
            f"INSERT INTO {table} REPLACE WHERE: subqueries in the "
            "replace predicate are not routable"
        )
    df = _df(spark, plan.query())
    manifest, schema = _snapshot(spark, table, path)
    target_cols = [f.name for f in schema.fields]
    if len(df.columns) != len(target_cols):
        raise SqlDmlError(
            f"INSERT INTO {table} REPLACE WHERE: query produces "
            f"{len(df.columns)} column(s), table has {len(target_cols)}"
        )
    aligned = df.toDF(*target_cols).select(
        *(
            F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
            for f in schema.fields
        )
    )
    where, where_equals, condition = parse_predicate(pred)
    return TX.tx_replace_where(
        spark, aligned, path,
        where=where or None,
        where_equals=where_equals or None,
        condition=condition,
        partition_by=TX.table_partition_columns(manifest) or None,
    )


def _managed_path(spark: SparkSession, db: str, name: str) -> str:
    """The data dir of a MANAGED ``db.name``: ``<db location>/<name>__txlog``
    — suffixed so it never collides with the catalog's default
    managed-table location for db.name (Spark refuses CREATE TABLE when
    that exact dir already exists)."""
    import os

    from .sql_serving import ensure_database

    ensure_database(spark, db)
    db_loc = (
        spark.sql(f"DESCRIBE DATABASE {db}")
        .filter("info_name = 'Location'")
        .collect()[0]
        .info_value
    )
    return os.path.join(db_loc.removeprefix("file:"), f"{name}__txlog")


def _clone(
    spark: SparkSession,
    target: str,
    source: str,
    version: str | None,
    location: str | None,
) -> str:
    """``CREATE TABLE db.t2 SHALLOW CLONE db.t [VERSION AS OF n]
    [LOCATION '…']`` → ``tx_clone``: a NEW table whose v1 references the
    source snapshot's files by absolute path — zero data copied,
    metadata-only even for a petabyte source; the clone then evolves
    independently (Delta's SHALLOW CLONE, including the documented
    vacuum-the-source caveat). Without LOCATION the clone is managed
    under the target's layer database."""
    from ..sources import txlog as TX

    pinned = txlog_table_path(spark, source)
    if pinned is None:
        raise SqlDmlError(
            f"SHALLOW CLONE {source}: not a registered txlog table"
        )
    src_path, _ = pinned
    parts = [_unquote(p) for p in target.split(".")]
    db = parts[0] if len(parts) == 2 else spark.catalog.currentDatabase()
    name = parts[-1]
    if location:
        dst = location.replace("''", "'")
    else:
        dst = _managed_path(spark, db, name)
    TX.tx_clone(
        spark, src_path, dst,
        version=int(version) if version is not None else None,
    )
    return _reregister(spark, f"{db}.{name}", dst)


def _declared_columns(plan):
    """The schema a CREATE TABLE column list declares (name, type,
    nullability, comment) and its options, read off the
    ``ColumnDefinition`` nodes and the table spec's CHECK constraints:
    ``("identity", col, start, step)`` (``GENERATED ALWAYS`` and ``BY
    DEFAULT`` both serve the engine's BY-DEFAULT identity),
    ``("generated", col, expr)``, ``("default", col, expr)`` and
    ``("check", name, expr)``."""
    from pyspark.sql.types import (
        StructField,
        StructType,
        _parse_datatype_json_string,
    )

    fields, opts = [], []
    for c in _seq(plan.columns()):
        comment = _opt(c.comment())
        fields.append(StructField(
            c.name(),
            _parse_datatype_json_string(c.dataType().json()),
            c.nullable(),
            None if comment is None else {"comment": comment},
        ))
        ident = _opt(c.identityColumnSpec())
        if ident is not None:
            opts.append(
                ("identity", c.name(), ident.getStart(), ident.getStep())
            )
        gen = _opt(c.generationExpression())
        if gen is not None:
            opts.append(("generated", c.name(), gen))
        default = _opt(c.defaultValue())
        if default is not None:
            opts.append(("default", c.name(), default.originalSQL()))
    for check in _seq(plan.tableSpec().constraints()):
        opts.append(("check", check.name(), check.condition()))
    return StructType(fields), opts


def _ctas(spark: SparkSession, plan) -> str:
    """``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] db.t USING txlog
    [LOCATION '…'] [PARTITIONED BY (cols)] AS <query>`` — the SQL-only
    table lifecycle's first step: run the query, commit it as version 1
    (or a replace) through ``tx_write``, and register the catalog name
    over the pinned format. Without LOCATION the table is MANAGED: data
    lands under the layer database's directory (Delta's managed CTAS),
    still a plain txlog dir that survives the catalog. The empty-table
    form ``CREATE TABLE db.t (col TYPE …, [CONSTRAINT n CHECK (…)])``
    commits a zero-row frame of the declared columns, then each column
    option (:func:`_declared_columns`) as a metadata commit — every
    option expression is analyzed against that frame first, so one that
    does not resolve commits and registers nothing. Returns the
    fully-qualified registered name."""
    from ..sources import txlog as TX

    parts = [str(p) for p in _seq(plan.name().nameParts())]
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    name = parts[-1]
    replace = plan.nodeName().startswith("Replace")
    if replace and not plan.orCreate():
        raise SqlDmlError(
            f"REPLACE TABLE {db}.{name} USING txlog: write CREATE OR "
            "REPLACE TABLE (a txlog replace creates the table when absent)"
        )
    spec = plan.tableSpec()
    partition_by, unsupported = [], []
    for tr in _seq(plan.partitioning()):
        names = (
            tr.references()[0].fieldNames() if tr.name() == "identity" else ()
        )
        if len(names) == 1:
            partition_by.append(names[0])
        else:  # CLUSTER BY, bucketing, transforms, nested fields
            unsupported.append(tr.describe())
    for clause, present in (
        ("TBLPROPERTIES", not spec.properties().isEmpty()),
        ("OPTIONS", not spec.optionExpression().options().isEmpty()),
        ("COMMENT", spec.comment().isDefined()),
        ("DEFAULT COLLATION", spec.collation().isDefined()),
        ("ROW FORMAT / STORED AS", spec.serde().isDefined()),
    ):
        if present:
            unsupported.append(clause)
    unsupported += [
        c.toString()
        for c in _seq(spec.constraints())
        if c.getClass().getSimpleName() != "CheckConstraint"
    ]
    if unsupported:
        raise SqlDmlError(
            f"CREATE TABLE {db}.{name} USING txlog: unsupported clause(s) "
            f"{unsupported} (supported: LOCATION, PARTITIONED BY, CHECK "
            "constraints)"
        )
    if plan.nodeName().endswith("AsSelect"):
        df, opts = _df(spark, plan.query()), []
    else:
        schema, opts = _declared_columns(plan)
        if not schema.fields:
            raise SqlDmlError(
                f"CREATE TABLE {db}.{name} USING txlog: needs a column "
                "list or AS <query>"
            )
        df = spark.createDataFrame([], schema)
    # analysis only: an option expression that does not resolve raises
    # here, before version 1 is written
    for kind, _, expr, *_ in opts:
        if kind in ("generated", "default"):
            df.selectExpr(expr)
        elif kind == "check":
            df.filter(expr)
    # CREATE OR REPLACE of an EXISTING txlog registration must land as a
    # commit in the SAME log (Delta reuses the table's location): prior
    # versions stay travelable through the name and nothing is orphaned.
    # Only the live registration counts — replacing over a frozen/CDF
    # twin is refused by _writable.
    existing = txlog_table_path(spark, f"{db}.{name}") if replace else None
    if existing is not None:
        existing_path = _writable(f"{db}.{name}", existing)[0]
    path = _opt(spec.location())
    if path is not None:
        if existing is not None and path.rstrip("/") != existing_path.rstrip("/"):
            raise SqlDmlError(
                f"CREATE OR REPLACE TABLE {db}.{name}: LOCATION {path!r} "
                f"differs from the table's current location "
                f"{existing_path!r} — a replace is a commit in the same "
                "log (drop the table first to relocate it)"
            )
    elif existing is not None:
        path = existing_path
    else:
        path = _managed_path(spark, db, name)
    exists_in_catalog = spark.catalog.tableExists(f"{db}.{name}")
    has_commits = TX.current_version(spark, path) is not None
    if not replace and (exists_in_catalog or has_commits):
        if plan.ignoreIfExists():
            return f"{db}.{name}"
        raise SqlDmlError(
            f"CREATE TABLE {db}.{name}: already exists "
            f"({'catalog entry' if exists_in_catalog else path}) — use "
            "CREATE OR REPLACE TABLE to overwrite"
        )
    TX.tx_write(
        spark, df, path, mode="overwrite", partition_by=partition_by or None
    )
    _apply_create_options(spark, path, opts)
    return _reregister(spark, f"{db}.{name}", path)


def _apply_create_options(
    spark: SparkSession, path: str, opts: list[tuple]
) -> None:
    """Apply the options :func:`_declared_columns` read to the freshly
    created (empty) table — each a metadata-only commit through the
    declaring writers, so the invariants hold from the table's FIRST
    data write."""
    from ..sources import txlog as TX

    for kind, *args in opts:
        if kind == "identity":
            col, start, step = args
            TX.tx_add_identity(spark, path, col, start=start, step=step)
        elif kind == "generated":
            TX.tx_add_generated_column(spark, path, *args)
        elif kind == "default":
            TX.tx_set_default(spark, path, *args)
        else:  # check
            TX.tx_add_constraint(spark, path, *args)


def _reregister(spark: SparkSession, table: str, path: str) -> str:
    """(Re-)register ``table`` over ``path`` after a commit that created
    or reshaped it (the catalog relation pins the schema it was created
    with), in the mode it is registered in now: a read-optimized
    registration keeps its native parquet relation."""
    from .sql_serving import _SERVING_BY_PATH, register_txlog_table

    parts = [_unquote(p) for p in table.split(".")]
    db = parts[0] if len(parts) == 2 else spark.catalog.currentDatabase()
    served = _SERVING_BY_PATH.get(
        (spark.sparkContext.applicationId, path.rstrip("/")), ()
    )
    read_optimized = (db.lower(), parts[-1].lower()) in {
        (d.lower(), n.lower()) for d, n in served
    }
    return register_txlog_table(
        spark, db, parts[-1], path, read_optimized=read_optimized
    )


# table DDL served from the txlog record; every other ALTER TABLE plan on
# a txlog table is refused
_DDL = frozenset({
    "AddColumns",
    "RenameColumn",
    "DropColumns",
    "AddCheckConstraint",
    "DropConstraint",
    "SetTableProperties",
    "AlterColumns",
    "TruncateTable",
    "ShowTableProperties",
})


def _ddl_table(plan) -> str | None:
    """The table a TRUNCATE / SHOW TBLPROPERTIES / ALTER TABLE plan
    names (ADD CONSTRAINT's sits under the validating ``Filter`` Spark
    builds over it), or None for any other plan."""
    leaves = _seq(plan.collectLeaves())
    if len(leaves) != 1:
        return None
    leaf = leaves[0]
    if plan.nodeName() not in _DDL and not (
        leaf.nodeName() in ("UnresolvedTable", "UnresolvedTableOrView")
        and str(leaf.commandName()).startswith("ALTER TABLE")
    ):
        return None
    return ".".join(str(p) for p in _seq(leaf.multipartIdentifier()))


def _ddl(spark: SparkSession, stmt: str, plan, table: str, pinned):
    """TRUNCATE, SHOW TBLPROPERTIES and ALTER TABLE on a txlog table.
    ``SHOW TBLPROPERTIES db.t [('key')]`` is served from the TXLOG
    property record (the catalog's own store drops properties for
    Python data source tables). ``TRUNCATE TABLE db.t`` commits one
    version with zero live rows — a normal (undoable, time-travelable)
    all-rows delete, never a log wipe, so table properties, constraints
    and identity state survive."""
    from ..sources import txlog as TX

    kind = plan.nodeName()
    if kind == "ShowTableProperties":
        key = _opt(plan.propertyKey())
        props = TX.tx_properties(spark, pinned[0])
        rows = [(str(k), str(v)) for k, v in props.items() if key in (None, k)]
        return spark.createDataFrame(sorted(rows), "key string, value string")
    path = _writable(table, pinned)[0]
    if kind == "TruncateTable":
        return TX.tx_delete(spark, path, condition="true")
    return _alter(spark, stmt, plan, table, path)


def _alter(spark: SparkSession, stmt: str, plan, table: str, path: str):
    """``ALTER TABLE db.t <action>`` routed by plan class to the
    metadata-only DDL writers: ADD COLUMN(S) [DEFAULT] (null-padded on
    read, zero files moved), RENAME/DROP COLUMN(S) (column mapping —
    physical names immutable), ADD CONSTRAINT … CHECK (full-table
    validation then persisted ``check.<name>``), DROP CONSTRAINT, SET
    TBLPROPERTIES and ALTER COLUMN TYPE (lossless widening only) | SET /
    DROP NOT NULL | SET / DROP DEFAULT. Schema-changing forms RE-REGISTER
    the catalog entry afterwards (the Python Data Source captures the
    schema at CREATE time), so ``SELECT`` by name sees the new shape
    immediately."""
    from ..sources import txlog as TX

    refusal = SqlDmlError(
        f"ALTER TABLE {table}: unsupported action in {stmt!r} (supported: "
        "ADD COLUMN, RENAME COLUMN, DROP COLUMN, ADD CONSTRAINT name "
        "CHECK (expr), DROP CONSTRAINT, SET TBLPROPERTIES, ALTER COLUMN "
        "TYPE | SET/DROP NOT NULL | SET/DROP DEFAULT)"
    )

    def field(jfield) -> str:
        parts = [str(p) for p in _seq(jfield.name())]
        if len(parts) != 1:
            raise refusal  # nested struct fields
        return parts[0]

    kind = plan.nodeName()
    reregister = kind in ("AddColumns", "RenameColumn", "DropColumns")
    v = None
    if kind == "AddColumns":
        for c in _seq(plan.columnsToAdd()):
            extras = (c.path(), c.comment(), c.position())
            if any(o.isDefined() for o in extras):
                raise refusal  # nested fields, COMMENT, FIRST / AFTER
            v = TX.tx_add_column(
                spark, path, c.colName(), c.dataType().catalogString(),
                nullable=c.nullable(),
            )
            default = _opt(c.default())
            if default is not None:
                v = TX.tx_set_default(
                    spark, path, c.colName(), default.originalSQL()
                )
    elif kind == "RenameColumn":
        v = TX.tx_rename_column(
            spark, path, field(plan.column()), plan.newName()
        )
    elif kind == "DropColumns" and not plan.ifExists():
        for c in _seq(plan.columnsToDrop()):
            v = TX.tx_drop_column(spark, path, field(c))
    elif kind == "AddCheckConstraint":
        # Spark refuses NOT ENFORCED on a CHECK; [NO]RELY is a planner hint
        check = plan.checkConstraint()
        v = TX.tx_add_constraint(spark, path, check.name(), check.condition())
    elif kind == "DropConstraint":
        v = TX.tx_drop_constraint(spark, path, plan.name())
    elif kind == "SetTableProperties":
        props, pairs = {}, plan.properties().iterator()
        while pairs.hasNext():
            kv = pairs.next()
            props[kv._1()] = kv._2()
        v = TX.tx_set_properties(spark, path, props)
    elif kind == "AlterColumns":
        for spec in _seq(plan.specs()):
            if spec.newComment().isDefined() or spec.newPosition().isDefined():
                raise refusal  # COMMENT, FIRST / AFTER
            col = field(spec.column())
            new_type = _opt(spec.newDataType())
            nullable = _opt(spec.newNullability())
            default = _opt(spec.newDefaultExpression())
            if new_type is not None:
                # Delta's type widening: metadata-only, lossless widenings
                # only (tx_widen_column refuses narrowing/cross-family)
                v = TX.tx_widen_column(
                    spark, path, col, new_type.catalogString()
                )
                reregister = True
            if nullable is False:
                # Delta's NOT NULL is a validated invariant: full-table
                # check then enforced on every write, exactly a named CHECK
                v = TX.tx_add_constraint(
                    spark, path, f"notnull_{col}", f"{col} IS NOT NULL"
                )
            elif nullable is True:
                v = TX.tx_drop_constraint(spark, path, f"notnull_{col}")
            if default is not None:
                v = TX.tx_set_default(spark, path, col, default.originalSQL())
            if spec.dropDefault():
                v = TX.tx_drop_default(spark, path, col)
    else:
        raise refusal
    if reregister:
        _reregister(spark, table, path)
    return v


def _require_txlog(spark: SparkSession, table: str, what: str) -> str:
    pinned = txlog_table_path(spark, table)
    if pinned is None:
        raise SqlDmlError(
            f"{what} {table}: not a registered txlog table (plain parquet "
            "tables have no transaction log)"
        )
    return _writable(table, pinned)[0]


def _optimize(
    spark: SparkSession,
    table: str,
    zorder_cols: str | None,
    where: str | None = None,
) -> int:
    """``OPTIMIZE db.t [WHERE part = v] [ZORDER BY (c1, c2)]`` →
    ``tx_compact``: plain form bin-packs small files incrementally
    (128 MiB threshold — right-sized files carry forward by reference,
    the only OPTIMIZE that survives 100 TB); ZORDER re-clusters on the
    named columns (Morton key for ≥2, lexicographic for 1) so ranged
    reads prune files. ``WHERE`` (Delta's partition-scoped OPTIMIZE)
    takes equality predicates on PARTITION columns and limits both
    forms to the matching partitions — the daily maintenance shape."""
    from ..sources import txlog as TX

    path = _require_txlog(spark, table, "OPTIMIZE")
    cur = TX.current_version(spark, path)
    if cur is None:
        raise SqlDmlError(f"{table}: no committed txlog version at {path}")
    manifest = TX.read_manifest(spark, path, cur)
    partition_where = None
    if where:
        w, eq, cond = parse_predicate(where)
        extra_ranges = {
            c for c, (lo, hi) in w.items() if c not in eq or (lo, hi) != (eq[c], eq[c])
        }
        if cond is not None or extra_ranges or not eq:
            raise SqlDmlError(
                f"OPTIMIZE {table} WHERE: only equality predicates on "
                f"partition columns are supported (got {where.strip()!r})"
            )
        partition_where = _partition_values(spark, manifest, eq)
    if zorder_cols:
        cols = [_unquote(c) for c in _split_top(zorder_cols, ",")]
        return TX.tx_compact(
            spark, path, cluster_by=cols, zorder=len(cols) >= 2,
            partition_where=partition_where,
        )
    # size-targeted bin count (Delta's binPacking): the under-threshold
    # bytes decide how many right-sized outputs the rewrite packs into
    thr = 128 << 20
    scope = manifest["files"]
    if partition_where:
        pcols = TX.table_partition_columns(manifest)
        bad = sorted(set(partition_where) - set(pcols))
        if bad:
            raise SqlDmlError(
                f"OPTIMIZE {table} WHERE: {bad} are not partition "
                f"column(s) (partitions: {pcols})"
            )
        probe = {k: TX._hive_enc(v) for k, v in partition_where.items()}
        scope = [
            f
            for f in scope
            if all(f["partition"].get(k) == v for k, v in probe.items())
        ]
    small_total = sum(
        int(f.get("bytes") or 0)
        for f in scope
        if f.get("dv") or f.get("bytes") is None or f["bytes"] < thr
    )
    n_files = max(1, -(-small_total // thr))
    return TX.tx_compact(
        spark, path, small_bytes=thr, n_files=n_files,
        partition_where=partition_where,
    )


def _partition_values(spark: SparkSession, manifest: dict, eq: dict) -> dict:
    """The equality probes of ``OPTIMIZE … WHERE`` as the values Spark
    writes into the partition path (matched through ``_hive_enc``): a
    literal against a double column is a float (``1`` → ``1.0``, the
    DECIMAL ``0.10`` → ``0.1``), and a timestamp is its wall-clock time
    in the session zone."""
    import datetime as _dt
    import decimal
    import json

    types = {
        f["name"]: f["type"] for f in json.loads(manifest["schema"])["fields"]
    }
    out = {}
    for col, v in eq.items():
        t = types.get(col)
        if t in ("double", "float") and isinstance(v, (int, decimal.Decimal)):
            v = float(v)
        elif t == "timestamp" and isinstance(v, _dt.datetime) and v.tzinfo:
            jvm = spark._jvm
            zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
                spark.conf.get("spark.sql.session.timeZone")
            )
            offset = zone.getRules().getOffset(
                jvm.java.time.Instant.ofEpochSecond(int(v.timestamp()))
            ).getTotalSeconds()
            v = (v + _dt.timedelta(seconds=offset)).replace(tzinfo=None)
        out[col] = v
    return out


def _vacuum(
    spark: SparkSession, table: str, hours: str | None, dry: bool
) -> DataFrame:
    """``VACUUM db.t [RETAIN n HOURS] [DRY RUN]`` → ``tx_vacuum``;
    returns the reaped (or reapable, for DRY RUN) paths as a 1-column
    DataFrame, Delta-style."""
    from ..sources.txlog import tx_vacuum

    path = _require_txlog(spark, table, "VACUUM")
    reaped = tx_vacuum(
        spark,
        path,
        retain_hours=float(hours) if hours is not None else 168.0,
        dry_run=dry,
    )
    return spark.createDataFrame(
        [(p,) for p in reaped], "path string"
    )


def _history(spark: SparkSession, table: str) -> DataFrame | None:
    pinned = txlog_table_path(spark, table)
    if pinned is None:
        return None  # plain DESCRIBE HISTORY on non-txlog: passthrough
    from ..sources.txlog import tx_history

    path, _ = pinned
    import json as _json

    rows = [
        (
            int(r.get("version", -1)),
            str(r.get("op", "")),
            int(r.get("ts_ms", 0)),
            _json.dumps(r.get("operation_metrics", {}), sort_keys=True),
        )
        for r in tx_history(spark, path)
    ]
    return spark.createDataFrame(
        rows,
        "version long, operation string, ts_ms long, "
        "operation_metrics string",
    )


def _detail(spark: SparkSession, table: str) -> DataFrame | None:
    """``DESCRIBE DETAIL db.t`` (Delta's twin): one row of snapshot
    facts from the manifest — version, live file count, total bytes,
    rows (footer-recorded), partition columns, properties — all
    metadata-only."""
    pinned = txlog_table_path(spark, table)
    if pinned is None:
        return None
    import json as _json

    from ..sources import txlog as TX

    path, _ = pinned
    cur = TX.current_version(spark, path)
    m = TX.read_manifest(spark, path, cur)
    files = m["files"]
    part_cols = TX.table_partition_columns(m)
    row = (
        path,
        int(cur),
        len(files),
        int(sum(int(f.get("bytes") or 0) for f in files)),
        int(sum(int(f.get("rows") or 0) for f in files))
        - int(sum(int(f.get("dv_count") or 0) for f in files)),
        _json.dumps(part_cols),
        _json.dumps(m.get("properties", {}), sort_keys=True),
    )
    return spark.createDataFrame(
        [row],
        "location string, version long, num_files long, "
        "size_bytes long, num_rows long, partition_columns string, "
        "properties string",
    )


def _restore(spark: SparkSession, table: str, kind: str, lit: str) -> int:
    """``RESTORE TABLE db.t TO VERSION AS OF n | TIMESTAMP AS OF 'ts'``
    → ``tx_restore`` (metadata-only: commits a NEW version whose file
    list is the target's; the restore itself is time-travelable and
    undoable). The timestamp form resolves to the newest version
    committed at-or-before it, Delta's resolution."""
    from ..sources.txlog import tx_restore, version_at_timestamp

    path = _require_txlog(spark, table, "RESTORE")
    if kind.lower() == "version":
        if not lit.isdigit():
            raise SqlDmlError(
                f"RESTORE {table}: VERSION AS OF takes an integer, got "
                f"{lit!r}"
            )
        version = int(lit)
    else:
        ts = _parse_literal(lit)
        if not isinstance(ts, str):
            raise SqlDmlError(
                f"RESTORE {table}: TIMESTAMP AS OF takes a quoted "
                f"timestamp string, got {lit!r}"
            )
        version = version_at_timestamp(spark, path, ts)
    return tx_restore(spark, path, version)


def _writable(table: str, pinned: tuple[str, dict]) -> tuple[str, dict]:
    path, extra = pinned
    if str(extra.get("readchangefeed", "false")).lower() == "true":
        raise SqlDmlError(
            f"{table} is a CHANGE-FEED table — change rows are a derived "
            "read surface, not a writable relation"
        )
    if "versionasof" in extra or "timestampasof" in extra:
        raise SqlDmlError(
            f"{table} is a FROZEN time-travel table — DML must target "
            "the live table registration"
        )
    return path, extra
