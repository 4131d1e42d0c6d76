"""Name-based SQL serving surface — the Athena-catalog twin.

The reference's consumption model is Glue crawler → Athena catalog → SQL
by table name: every downstream consumer queries
``SELECT … FROM analytics.fact_venta_detalle`` by NAME, never by path
(`stacks/cdk_datalake_analytics_stack.py:483-522,654-688` wires one Glue
database per layer and crawls each layer prefix into it). This module
gives the engine the same surface on Spark's session catalog:

    from cdk_datalake_analytics_comercial_spark.core.sql_serving import register_sql
    register_sql(spark, catalog)            # one database per layer
    spark.sql("SELECT … FROM domain.t_venta JOIN analytics.fact_… ")

- **Plain parquet tables** register as EXTERNAL datasource tables
  (``CREATE TABLE … USING parquet LOCATION``): metadata-only, full
  Catalyst pushdown/pruning, and hive-partitioned layouts get their
  partitions recovered (``MSCK REPAIR TABLE`` — the Glue-crawler step).
- **txlog tables** register as ``USING txlog`` tables through the Python
  Data Source batch reader (`streaming/source.TxLogBatchReader`) by
  default: the snapshot is re-resolved at every query plan, so SQL always
  reads the current committed version (stale-batch unions are impossible
  — a raw parquet table over a txlog dir would serve superseded files).
  Opt-in ``read_optimized=True`` registrations of eligible snapshots, and
  every eligible BOUNDED change-feed range, register instead as NATIVE
  parquet tables over a symlink manifest (Delta's
  ``symlink_format_manifest`` model; see the read-optimized block below).
- **Multi-instance stage tables** (one subdir per source endpoint)
  register one table per instance plus a UNION-ALL VIEW under the plain
  table name, null-padding by name — the SQL twin of
  ``reader.read_table``'s unionByName.

Scale: registration is metadata-only (no data job is ever run — MSCK
lists directories); at 100 TB this is the same O(partitions) catalog
walk the Glue crawler performs, and query plans over the registered
tables are identical to path-based reads (same datasource relation).

Everything is idempotent: re-running refreshes the registration
(drop+create of metadata; table DATA is external and never touched).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession

from .catalog import Catalog, Layer
from .publish import publish_once

_NAME_OK = re.compile(r"[^a-z0-9_]")


def _ident(name: str) -> str:
    """A safe SQL identifier from a filesystem name (lowercase,
    [a-z0-9_], no leading digit)."""
    s = _NAME_OK.sub("_", name.lower())
    if not s or s[0].isdigit():
        s = "t_" + s
    return s


class _IdentClaims:
    """Identifier registry for one ``register_sql``/``register_sql_dir``
    run: ``_ident`` is lossy (``'T-1'`` and ``'t_1'`` both map to
    ``t_1``), and registration drop-and-recreates, so an unnoticed
    collision would silently replace the first table with the second.
    Claiming the same identifier for two DIFFERENT source entries
    raises; re-claiming for the same entry (idempotent re-run) is
    fine."""

    def __init__(self):
        self._owner: dict[str, str] = {}

    def claim(self, db: str, ident: str, source: str) -> str:
        key = f"{db}.{ident}"
        prev = self._owner.setdefault(key, source)
        if prev != source:
            raise ValueError(
                f"SQL identifier collision: {source!r} and {prev!r} both "
                f"map to {key} — rename one source directory (identifiers "
                "are lowercased [a-z0-9_])"
            )
        return ident


def _sq(path: str) -> str:
    """Single-quote a path literal for SQL."""
    return path.replace("'", "''")


def ensure_database(spark: SparkSession, db: str, location: str | None = None) -> None:
    """CREATE DATABASE IF NOT EXISTS with an explicit location (keeps the
    default warehouse dir — the driver's CWD — out of the picture)."""
    loc = location or os.path.join(
        tempfile.gettempdir(), "spark_graft_warehouse", db
    )
    dbkey = (spark.sparkContext.applicationId, db.lower())
    if dbkey in _DB_CACHE and os.path.isdir(loc):
        return
    os.makedirs(loc, exist_ok=True)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{_sq(loc)}'")
    _DB_CACHE.add(dbkey)


# ---------------------------------------------------------------------------
# Registration fast-path. Re-registration used to be DROP + CREATE on every
# call: correct (idempotent) but it invalidated the session's relation cache,
# so EVERY SQL query over a registered table re-listed files and re-inferred
# the parquet schema from footers — pure driver-side overhead repeated per
# query (guide §5: the driver should do almost no data work; §6: listing is
# cacheable). The cache below remembers what THIS session already registered
# (keyed by applicationId — a fresh session always re-registers) plus a
# mtime/size signature of the storage, and skips the DROP+CREATE when the
# registration would be byte-identical. Changed data (rewritten file/dir) or
# a changed descriptor (other path, time-travel pin, schema source) misses
# the cache and re-registers exactly as before. txlog tables carry no storage
# signature: their reader re-resolves the snapshot at every query plan by
# design, so registration only pins (path, options).

_REG_CACHE: dict[tuple[str, str, str], tuple] = {}
_DB_CACHE: set[tuple[str, str]] = set()


def _reg_key(spark: SparkSession, db: str, name: str) -> tuple[str, str, str]:
    return (spark.sparkContext.applicationId, db.lower(), name.lower())


def _reg_fresh(spark: SparkSession, db: str, name: str, desc: tuple) -> bool:
    """True when ``db.name`` was registered by this session with the same
    descriptor and still exists in the catalog (an external DROP evicts)."""
    key = _reg_key(spark, db, name)
    if _REG_CACHE.get(key) != desc:
        return False
    if spark.catalog.tableExists(f"{db}.{name}"):
        return True
    _REG_CACHE.pop(key, None)
    return False


def _reg_done(spark: SparkSession, db: str, name: str, desc: tuple) -> None:
    _REG_CACHE[_reg_key(spark, db, name)] = desc


def _path_sig(path: str) -> tuple:
    """Storage signature for cache invalidation: a rewritten file or dir
    bumps mtime, a same-path different-content registration re-registers."""
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("missing",)


def _drop_any(spark: SparkSession, fq: str) -> None:
    """Drop ``fq`` whether it currently exists as a view or a table
    (DROP TABLE on a VIEW raises WRONG_COMMAND_FOR_OBJECT_TYPE even with
    IF EXISTS, and vice versa — re-registration must survive both)."""
    from pyspark.errors.exceptions.base import AnalysisException

    for stmt in (f"DROP VIEW IF EXISTS {fq}", f"DROP TABLE IF EXISTS {fq}"):
        try:
            spark.sql(stmt)
        except AnalysisException:
            pass


def _is_partitioned_dir(path: str) -> bool:
    try:
        return any(
            "=" in e and os.path.isdir(os.path.join(path, e))
            for e in os.listdir(path)
        )
    except OSError:
        return False


def register_parquet_table(
    spark: SparkSession, db: str, name: str, path: str
) -> str:
    """(Re-)register one parquet location as ``db.name`` (external,
    metadata-only; hive partitions recovered). Unchanged same-session
    re-registrations are skipped (see ``_REG_CACHE``) so the relation
    cache stays warm; hive-partitioned layouts always re-register —
    partition dirs can appear below the root without touching its
    mtime, and MSCK must see them."""
    partitioned = _is_partitioned_dir(path)
    desc = ("parquet", path, _path_sig(path))
    if not partitioned and _reg_fresh(spark, db, name, desc):
        return f"{db}.{name}"
    ensure_database(spark, db)
    _drop_any(spark, f"{db}.{name}")
    spark.sql(
        f"CREATE TABLE {db}.{name} USING parquet LOCATION '{_sq(path)}'"
    )
    if partitioned:
        spark.sql(f"MSCK REPAIR TABLE {db}.{name}")
    else:
        _reg_done(spark, db, name, desc)
    return f"{db}.{name}"


# ---------------------------------------------------------------------------
# READ-OPTIMIZED txlog serving: a native parquet relation over a snapshot
# manifest (guide §4/§6 — the Python Data Source read path costs a fixed
# ~0.5 s of plan-time worker round-trips per query; a catalog parquet table
# plans in the JVM with full codegen, footer pushdown and a warm relation
# cache). The snapshot's live file list is materialized as a SYMLINK
# MANIFEST directory — the Delta "GENERATE symlink_format_manifest" model
# used to serve Delta tables to Presto/Athena — and the catalog table's
# LOCATION is a stable `current` symlink swapped atomically per version:
#
#     /tmp/spark_graft_serving/<sha(path)>/v<N>_<content>/<k=v>/f<sha>.parquet
#     /tmp/spark_graft_serving/<sha(path)>/current -> v<N>_<content>
#
# Freshness contract: registration is version-keyed (any commit misses the
# cache and rebuilds), and a post-commit listener (sources/txlog.py
# add_commit_listener) re-registers every current-serving native table the
# moment THIS process commits — the same visible-next-query semantics the
# Python reader gets by re-resolving per plan. Commits made by OTHER
# processes become visible at the next registration (every serving query
# re-registers). `current` only moves FORWARD — the version is encoded in
# the dir name, and a swap to an older snapshot is a no-op — and each swap
# removes the superseded snapshot dirs no live registration of this process
# points at, so a long-lived session that never re-registers fails loudly
# on a vanished file rather than serving stale rows; a frozen VERSION AS OF
# twin points straight at its v<N> dir and keeps it. A listener that fails
# never fails the commit (the commit is durable; txlog logs the error):
# the registration it could not refresh is forgotten and dropped from the
# catalog, so the next SELECT fails loudly instead of reading the stale
# manifest.
#
# Ineligible snapshots — deletion vectors, column mapping, non-local
# storage, partition columns that are not the schema tail — fall back to
# the Python Data Source registration unchanged, and a registration can
# FLIP between the two as commits change eligibility (e.g. a DV delete
# flips to Python; a compaction that drops the DVs flips back).
#
# BOUNDED CHANGE-FEED ranges (register_txlog_changes_table with an
# ending_version, file-level mode) serve the same way. The change-feed
# planner (streaming/source.TxCdfStreamReader) gives each commit's
# pre-image and post-image files; they link under two extra partition
# levels below the table's own,
#
#     <sha(path)>/cdf_<db>.<name>_v<s>-<e>_<content>/<k=v>/
#         _change_type=delete|insert/_commit_version=<v>/f<sha>.parquet
#
# pre-images as `delete`, post-images as `insert` — exactly the rows the
# Python feed emits for its insert/filecdf splits. A bounded range is
# immutable (later commits never change what versions s..e did), so the
# table needs no commit listener and keeps no freshness contract. Its
# columns are the table's CURRENT schema at registration, as the Python
# feed's are; re-registering picks up a later schema change. Eligibility
# is checked over EVERY pre and post entry of the range, not just the
# snapshot at e: a deletion vector, column mapping, a non-local file or a
# file whose partition layout differs from the table's sends the range to
# the Python source, as do row-keyed and open-ended feeds and ranges the
# planner refuses (vacuumed, inverted, beyond current — the Python source
# raises those at the first SELECT, as before). Widened columns stay
# native: Spark's parquet reader up-casts the narrow physical types the
# way the Arrow path casts them. The registration name is part of the dir
# key, and re-registering a name removes its previous range dir.
#
# Writes: all DML/DDL routed through core/sql_dml resolves the table back
# to txlog storage via TBLPROPERTIES (so MERGE/INSERT/DELETE keep their
# transactional semantics and the post-commit refresh; change-feed tables
# refuse DML), but a RAW ``spark.sql("INSERT INTO …")`` on a
# read-optimized table would write bare parquet into the manifest
# directory — hence read_optimized is an explicit OPT-IN for serving
# registrations, never the default.

_NATIVE_PROP_PATH = "spark_graft.txlog.path"
_NATIVE_PROP_EXTRA = "spark_graft.txlog.extra"

# (appId, db, name) -> {"path", "schema", "pcols", "location"}
_NATIVE_STATE: dict[tuple[str, str, str], dict] = {}
# (appId, normalized path) -> {(db, name)} of current-serving native tables
_SERVING_BY_PATH: dict[tuple[str, str], set[tuple[str, str]]] = {}
# a snapshot manifest dir name: v<version>_<content hash>
_SNAPSHOT_DIR = re.compile(r"v(\d+)_[0-9a-f]+")
_CDF_DIR_PREFIX = "cdf_"


def _serving_root(path: str) -> str:
    key = hashlib.sha1(os.path.abspath(path).encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), "spark_graft_serving", key)


def _native_ineligible_reason(path: str, manifest: dict) -> str | None:
    """None when the snapshot can be served as a native parquet relation;
    otherwise the reason for the Python Data Source fallback."""
    from ..sources import txlog as TX

    if not manifest.get("schema"):
        return "no schema recorded"
    mapping = TX._schema_mapping(manifest["schema"])
    if not TX._mapping_is_identity(mapping):
        return "column mapping active"
    files = manifest["files"]
    if any(f.get("dv") for f in files):
        return "deletion vectors present"
    pcols = TX.table_partition_columns(manifest)
    fields = [f["name"] for f in json.loads(manifest["schema"])["fields"]]
    if pcols:
        if len(pcols) >= len(fields) or fields[-len(pcols):] != pcols:
            # catalog tables move partition columns to the schema tail;
            # a different logical order would change SELECT * shape
            return "partition columns are not the schema tail"
    root = path.rstrip("/")
    for f in files:
        full, bd = TX._resolve_file(root, f["path"])
        if ":" in full.split("/", 1)[0] and not full.startswith("file:"):
            return "non-local file reference"
        rel = full[len(bd):].lstrip("/")
        kvs = [
            seg.partition("=")[0] for seg in rel.split("/")[:-1] if "=" in seg
        ]
        if kvs != pcols:
            return "file partition layout differs from table partitioning"
    return None


def _build_native_manifest(
    path: str, key: str, files: list[tuple[dict, tuple[str, ...]]]
) -> str:
    """Materialize ``files`` — (manifest entry, extra ``k=v`` dir segments
    below the entry's own partition dirs) — as the symlink directory
    ``<serving root>/<key>_<content>`` (idempotent, content-keyed,
    atomically published) and return it. Metadata only: links, never
    data."""
    from ..sources import txlog as TX

    root = path.rstrip("/")
    content = hashlib.sha1(
        "\n".join(
            sorted(
                f"{f['path']}:{f.get('rows', '')}:{f.get('bytes', '')}:"
                + "/".join(segs)
                for f, segs in files
            )
        ).encode()
    ).hexdigest()[:10]

    def build(tmp: str) -> None:
        for f, segs in files:
            full, bd = TX._resolve_file(root, f["path"])
            if full.startswith("file:"):
                full = full[len("file:"):]
            rel = full[len(bd):].lstrip("/") if full.startswith(bd) else ""
            part_dirs = [seg for seg in rel.split("/")[:-1] if "=" in seg]
            d = os.path.join(tmp, *part_dirs, *segs)
            os.makedirs(d, exist_ok=True)
            link = "f" + hashlib.sha1(full.encode()).hexdigest()[:16] + ".parquet"
            os.symlink(full, os.path.join(d, link))

    return publish_once(
        os.path.join(_serving_root(path), f"{key}_{content}"), build
    )


def _snapshot_version(dirname: str) -> int:
    """The version a ``v<N>_<content>`` snapshot dir serves; -1 for any
    other entry of a serving root."""
    m = _SNAPSHOT_DIR.fullmatch(dirname)
    return int(m.group(1)) if m else -1


@contextlib.contextmanager
def _serving_lock(root: str):
    """Serialize `current` swaps (and their GC) of one serving root across
    threads and processes."""
    import fcntl

    os.makedirs(root, exist_ok=True)
    fd = os.open(os.path.join(root, ".lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def _swap_current(spark: SparkSession, path: str, vdir: str) -> str:
    """Point ``<serving root>/current`` at ``vdir`` and return the stable
    current path (the catalog LOCATION). Forward only: when ``current``
    already serves a newer snapshot of the table the swap is a no-op, so
    racing registrations never move serving back (a served version NEWER
    than the table's own belongs to a dropped-and-recreated table and is
    replaced). A swap removes the snapshot dirs it supersedes."""
    from ..sources import txlog as TX

    root = _serving_root(path)
    cur = os.path.join(root, "current")
    name = os.path.basename(vdir)
    with _serving_lock(root):
        try:
            served = _snapshot_version(os.readlink(cur))
        except FileNotFoundError:
            served = -1
        if served > _snapshot_version(name):
            live = TX.current_version(spark, path)
            if live is not None and served <= live:
                return cur
        tmp = os.path.join(root, f".current-{uuid.uuid4().hex[:8]}")
        os.symlink(name, tmp)
        os.replace(tmp, cur)
        _gc_snapshots(root, name)
    return cur


def _gc_snapshots(root: str, keep: str) -> None:
    """Remove the snapshot dirs of ``root`` that ``keep`` supersedes (same
    or older version) and that no live registration of this process points
    at — frozen time-travel twins keep theirs."""
    keep_v = _snapshot_version(keep)
    live = {st["location"] for st in _NATIVE_STATE.values()}
    for entry in os.listdir(root):
        d = os.path.join(root, entry)
        v = _snapshot_version(entry)
        if entry != keep and 0 <= v <= keep_v and d not in live:
            shutil.rmtree(d, ignore_errors=True)


def _native_state_put(key: tuple[str, str, str], st: dict | None) -> None:
    """Record (``None``: forget) the native registration under ``key``. A
    change-feed range dir the name stops serving is removed unless another
    live registration points at it."""
    prev = _NATIVE_STATE.pop(key, None)
    if st is not None:
        _NATIVE_STATE[key] = st
    loc = prev["location"] if prev else None
    if (
        loc
        and os.path.basename(loc).startswith(_CDF_DIR_PREFIX)
        and loc not in {s["location"] for s in _NATIVE_STATE.values()}
    ):
        shutil.rmtree(loc, ignore_errors=True)


def _schema_ddl(spark: SparkSession, schema_json: str) -> str:
    jtype = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
        schema_json
    )
    return jtype.toDDL()


def _create_native_table(
    spark: SparkSession,
    db: str,
    name: str,
    schema_json: str,
    pcols: list[str],
    location: str,
    path: str,
    extra: dict,
) -> str:
    """(Re-)create ``db.name`` as an external parquet table at
    ``location``; TBLPROPERTIES carry the txlog path and options so DML by
    name routes to (or is refused by) the transactional writers."""
    fq = f"{db}.{name}"
    ensure_database(spark, db)
    _drop_any(spark, fq)
    part_clause = (
        " PARTITIONED BY (" + ", ".join(f"`{c}`" for c in pcols) + ")"
        if pcols
        else ""
    )
    props = (
        f"'{_NATIVE_PROP_PATH}'='{_sq(path.rstrip('/'))}', "
        f"'{_NATIVE_PROP_EXTRA}'='{_sq(json.dumps(extra, sort_keys=True))}'"
    )
    spark.sql(
        f"CREATE TABLE {fq} ({_schema_ddl(spark, schema_json)}) "
        f"USING parquet{part_clause} LOCATION '{_sq(location)}' "
        f"TBLPROPERTIES ({props})"
    )
    if pcols:
        spark.sql(f"MSCK REPAIR TABLE {fq}")
    return fq


def _native_register(
    spark: SparkSession,
    db: str,
    name: str,
    path: str,
    extra: dict,
    pinned_version: int | None,
) -> str | None:
    """Register ``db.name`` as a native parquet relation over the snapshot
    manifest; returns None (caller falls back to the Python source) when
    the snapshot is ineligible."""
    from ..sources import txlog as TX

    manifest = TX.read_manifest(spark, path, pinned_version)
    if _native_ineligible_reason(path, manifest) is not None:
        return None
    frozen = "versionasof" in extra or "timestampasof" in extra
    vdir = _build_native_manifest(
        path, f"v{manifest['version']}", [(f, ()) for f in manifest["files"]]
    )
    location = vdir if frozen else _swap_current(spark, path, vdir)
    pcols = TX.table_partition_columns(manifest)
    fq = f"{db}.{name}"
    key = _reg_key(spark, db, name)
    st = _NATIVE_STATE.get(key)
    reusable = (
        st is not None
        and st["schema"] == manifest["schema"]
        and st["pcols"] == pcols
        and st["location"] == location
        and spark.catalog.tableExists(fq)
    )
    if reusable:
        # same catalog entry, new file set behind the swapped symlink:
        # drop the cached listing; SYNC picks up added/removed partitions
        spark.sql(f"REFRESH TABLE {fq}")
        if pcols:
            spark.sql(f"MSCK REPAIR TABLE {fq} SYNC PARTITIONS")
    else:
        _create_native_table(
            spark, db, name, manifest["schema"], pcols, location, path, extra
        )
    _native_state_put(
        key,
        {
            "path": path.rstrip("/"),
            "schema": manifest["schema"],
            "pcols": pcols,
            "location": location,
        },
    )
    return fq


def _subscribe_serving(
    spark: SparkSession, db: str, name: str, path: str, wanted: bool
) -> None:
    """Track the read-optimized INTENT per registration: subscribed tables
    are re-registered after every in-process commit, which both refreshes
    a native manifest and re-attempts the native path after a snapshot
    that forced the Python fallback (e.g. DVs later compacted away)."""
    from ..sources import txlog as TX

    key = (spark.sparkContext.applicationId, path.rstrip("/"))
    if wanted:
        _SERVING_BY_PATH.setdefault(key, set()).add((db, name))
        TX.add_commit_listener(_refresh_native_serving)
    else:
        regs = _SERVING_BY_PATH.get(key)
        if regs:
            regs.discard((db, name))


def _invalidate_registration(
    spark: SparkSession, db: str, name: str, path: str
) -> None:
    """Forget a registration that could not be refreshed and drop its
    catalog entry: the next SELECT fails loudly (or the caller
    re-registers) instead of reading a stale manifest."""
    key = _reg_key(spark, db, name)
    _REG_CACHE.pop(key, None)
    _native_state_put(key, None)
    _subscribe_serving(spark, db, name, path, wanted=False)
    _drop_any(spark, f"{db}.{name}")


def _refresh_native_serving(spark, path: str, version: int) -> None:
    """Post-commit listener: re-register every current-serving native
    table of ``path`` so the next SELECT reads the new snapshot (or flips
    back to the Python source when the commit made it ineligible). A
    registration whose refresh fails is invalidated; the first error is
    re-raised once every registration had its turn."""
    if spark is None or spark.sparkContext._jsc is None:
        return  # no session, or a stopped one: nothing serves the table
    regs = _SERVING_BY_PATH.get(
        (spark.sparkContext.applicationId, path.rstrip("/"))
    )
    failed: Exception | None = None
    for db, name in sorted(regs or ()):
        try:
            register_txlog_table(spark, db, name, path, read_optimized=True)
        except Exception as exc:
            _invalidate_registration(spark, db, name, path)
            failed = failed or exc
    if failed is not None:
        raise failed


def register_txlog_table(
    spark: SparkSession,
    db: str,
    name: str,
    path: str,
    version: int | None = None,
    timestamp: str | float | None = None,
    read_optimized: bool = False,
) -> str:
    """(Re-)register one txlog table as ``db.name`` via a table-pinned
    ``txlog`` Python Data Source format (current snapshot resolved at
    every query plan, deletion vectors applied). The format carries the
    path because Spark hands catalog-table scans an EMPTY option map —
    see :func:`~..streaming.source.pinned_txlog_source`.

    ``version``/``timestamp`` pin TIME TRAVEL into the name: the table
    serves the frozen snapshot (``VERSION AS OF`` / ``TIMESTAMP AS OF``
    by catalog name — Delta's SQL travel; :func:`sql` rewrites the
    literal syntax onto this).

    ``read_optimized=True`` (opt-in) serves eligible snapshots through a
    NATIVE parquet relation over a symlink manifest instead of the Python
    Data Source —
    see the block comment above ``_native_register`` for the freshness
    contract and the fallback rules. DML by name still routes to the
    transactional writers (TBLPROPERTIES carry the storage path); do NOT
    use it for tables that receive raw ``spark.sql("INSERT INTO …")``
    statements, which only the Python Data Source registration can route
    into the txlog. The DML router (`core.sql_dml`) resolves
    the name back to storage through the pinned-format registry — the
    same in-process registration a catalog SCAN of the table needs
    (Spark 4.1 neither persists TBLPROPERTIES for Python data source
    tables nor re-registers their provider classes across processes, so
    a fresh session re-runs ``register_sql`` either way)."""
    from ..streaming.source import pinned_txlog_source

    if version is not None and timestamp is not None:
        raise ValueError("pass version OR timestamp, not both")
    extra: dict = {}
    if version is not None:
        extra["versionasof"] = str(int(version))
    if timestamp is not None:
        extra["timestampasof"] = str(timestamp)
    # The descriptor folds in the table's CURRENT COMMIT VERSION (one log-dir
    # listing — metadata-only): the catalog relation pins the schema captured
    # at CREATE TABLE, so a registration after ANY new commit (DDL adding a
    # column, merge with schema evolution, CTAS replace — or plain data DML,
    # whose schema is unchanged but whose re-registration was the pre-cache
    # behavior) must miss the cache and re-create the entry. An unchanged
    # table (every repeated SELECT-serving registration) still hits the
    # fast path and keeps the relation cache warm.
    from ..sources.txlog import current_version, version_at_timestamp

    desc = (
        "txlog",
        path.rstrip("/"),
        tuple(sorted(extra.items())),
        current_version(spark, path),
        read_optimized,
    )
    if _reg_fresh(spark, db, name, desc):
        return f"{db}.{name}"
    frozen = version is not None or timestamp is not None
    if not frozen:
        _subscribe_serving(spark, db, name, path, wanted=read_optimized)
    if read_optimized:
        pin = version
        if pin is None and timestamp is not None:
            pin = version_at_timestamp(spark, path, timestamp)
        if pin is None:
            pin = desc[3]
        if pin is not None:
            fq = _native_register(spark, db, name, path, extra, pin)
            if fq is not None:
                _reg_done(spark, db, name, desc)
                return fq
    _native_state_put(_reg_key(spark, db, name), None)
    fmt = pinned_txlog_source(spark, path, extra or None)
    ensure_database(spark, db)
    _drop_any(spark, f"{db}.{name}")
    spark.sql(f"CREATE TABLE {db}.{name} USING {fmt}")
    _reg_done(spark, db, name, desc)
    return f"{db}.{name}"


def register_txlog_changes_table(
    spark: SparkSession,
    db: str,
    name: str,
    path: str,
    starting_version: int,
    row_keyed: bool = False,
    ending_version: int | None = None,
) -> str:
    """Delta's ``table_changes(t, start)`` as a NAMED catalog object:
    ``SELECT … FROM db.name`` serves the change rows (table columns +
    ``_change_type`` + ``_commit_version``) of commits
    ``starting_version..current`` (or ``..ending_version`` when given —
    a frozen audit window), re-resolved at every query plan — new
    commits appear in the next SELECT with no re-registration. The
    starting version and modes bake into a pinned format
    (:func:`~..streaming.source.pinned_txlog_source` with extra
    options), because catalog-table scans hand Python data sources an
    empty option map. ``row_keyed=True`` (requires row tracking) makes
    rewrites cancel, so the named feed shows only real changes.

    A bounded file-level range (``ending_version`` given, not
    ``row_keyed``) whose files are all eligible serves instead as a
    NATIVE parquet table over a change-feed symlink manifest (see the
    read-optimized block comment above). Re-registering the same range
    is a cache hit."""
    from ..streaming.source import pinned_txlog_source

    extra = {
        "readchangefeed": "true",
        "startingversion": str(starting_version),
    }
    if ending_version is not None:
        extra["endingversion"] = str(ending_version)
    if row_keyed:
        extra["rowkeyed"] = "true"
    bounded = ending_version is not None and not row_keyed
    if bounded:
        fq = _native_changes_register(spark, db, name, path, extra)
        if fq is not None:
            return fq
    key = _reg_key(spark, db, name)
    _REG_CACHE.pop(key, None)
    _native_state_put(key, None)
    fmt = pinned_txlog_source(spark, path, extra)
    ensure_database(spark, db)
    _drop_any(spark, f"{db}.{name}")
    spark.sql(f"CREATE TABLE {db}.{name} USING {fmt}")
    return f"{db}.{name}"


def _native_changes_register(
    spark: SparkSession, db: str, name: str, path: str, extra: dict
) -> str | None:
    """Register the bounded change-feed range of ``extra`` as a native
    parquet table partitioned by (table partition columns,
    ``_change_type``, ``_commit_version``); None (caller registers the
    Python source) when the planner refuses the range or any of its files
    is ineligible."""
    from ..sources import txlog as TX
    from ..streaming.source import (
        _CDF_TYPE,
        _CDF_VERSION,
        TxCdfBatchReader,
        _cdf_file_sides,
        _cdf_schema_json,
    )

    root = path.rstrip("/")
    cur = TX.current_version(spark, root)
    if cur is None:
        return None
    manifest = TX.read_manifest(spark, root, cur)
    schema = manifest.get("schema")
    if not schema:
        return None
    # the feed's columns are the CURRENT schema (the Python feed's), so a
    # schema change since the last registration misses the cache
    desc = (
        "txlog_changes",
        root,
        tuple(sorted(extra.items())),
        hashlib.sha1(schema.encode()).hexdigest(),
    )
    if _reg_fresh(spark, db, name, desc):
        return f"{db}.{name}"
    try:
        parts = TxCdfBatchReader(schema, {**extra, "path": root}).partitions()
    except (ValueError, RuntimeError, FileNotFoundError, NotImplementedError):
        # vacuumed, inverted or beyond-current windows: the Python source
        # raises the same error at the first SELECT
        return None
    files: list[tuple[dict, tuple[str, ...]]] = []
    for p in parts:
        for change, refs in _cdf_file_sides(p):
            segs = (f"{_CDF_TYPE}={change}", f"{_CDF_VERSION}={p.version}")
            files.extend(({"path": rel, "dv": dv}, segs) for rel, dv in refs)
    ranged = dict(manifest, files=[f for f, _ in files])
    if _native_ineligible_reason(root, ranged) is not None:
        return None
    s, e = extra["startingversion"], extra["endingversion"]
    key = f"{_CDF_DIR_PREFIX}{_ident(db)}.{_ident(name)}_v{s}-{e}"
    vdir = _build_native_manifest(root, key, files)
    cdf_schema = _cdf_schema_json(schema)
    pcols = TX.table_partition_columns(ranged) + [_CDF_TYPE, _CDF_VERSION]
    fq = _create_native_table(
        spark, db, name, cdf_schema, pcols, vdir, root, extra
    )
    _native_state_put(
        _reg_key(spark, db, name),
        {"path": root, "schema": cdf_schema, "pcols": pcols, "location": vdir},
    )
    _reg_done(spark, db, name, desc)
    return fq


def _register_union_view(
    spark: SparkSession, db: str, name: str, member_names: list[str]
) -> str:
    """A UNION-ALL-by-name view over per-instance tables: each branch
    projects the UNION of all member columns (missing ones null-pad) so
    endpoints with drifted schemas still union — the SQL twin of
    ``unionByName(allowMissingColumns=True)``."""
    all_cols: list[str] = []
    col_type: dict[str, str] = {}
    member_cols: dict[str, list[str]] = {}
    for m in member_names:
        fields = spark.table(m).schema.fields
        member_cols[m] = [f.name for f in fields]
        for f in fields:
            if f.name not in col_type:
                all_cols.append(f.name)
                col_type[f.name] = f.dataType.simpleString()
    branches = []
    for m in member_names:
        have = set(member_cols[m])
        sel = ", ".join(
            f"`{c}`"
            if c in have
            else f"CAST(NULL AS {col_type[c]}) AS `{c}`"
            for c in all_cols
        )
        branches.append(f"SELECT {sel} FROM {m}")
    _drop_any(spark, f"{db}.{name}")
    spark.sql(
        f"CREATE OR REPLACE VIEW {db}.{name} AS "
        + " UNION ALL ".join(branches)
    )
    return f"{db}.{name}"


def register_sql(
    spark: SparkSession,
    catalog: Catalog,
    layers: list[Layer | str] | None = None,
    db_prefix: str = "",
) -> dict[str, list[str]]:
    """Register every discoverable table of the lake in the session
    catalog: one database per layer (``db_prefix`` to namespace multiple
    lakes in one session), one external table per table dir (txlog
    detected by its ``_txlog`` log), and a union view per multi-instance
    stage table. Returns ``{database: [qualified table names]}``."""
    from ..sources.txlog import is_txlog_table

    layers = [Layer(x) for x in (layers or list(Layer))]
    out: dict[str, list[str]] = {}
    claims = _IdentClaims()
    for layer in layers:
        base = catalog.layer_path(layer)
        if not os.path.isdir(base):
            continue
        db = _ident(db_prefix + layer.value)
        registered: list[str] = []
        for entry in sorted(os.listdir(base)):
            tdir = os.path.join(base, entry)
            if not os.path.isdir(tdir) or entry.startswith(("_", ".")):
                continue
            name = claims.claim(db, _ident(entry), tdir)
            if is_txlog_table(spark, tdir):
                registered.append(register_txlog_table(spark, db, name, tdir))
            elif catalog.is_table_dir(layer, entry):
                registered.append(register_parquet_table(spark, db, name, tdir))
            else:
                # multi-instance stage table: one table per endpoint
                # subdir + a union view under the plain name
                members = []
                for inst in catalog.instances(layer, entry):
                    idir = os.path.join(tdir, inst)
                    iname = claims.claim(db, _ident(f"{entry}__{inst}"), idir)
                    if is_txlog_table(spark, idir):
                        members.append(
                            register_txlog_table(spark, db, iname, idir)
                        )
                    else:
                        members.append(
                            register_parquet_table(spark, db, iname, idir)
                        )
                if members:
                    registered.extend(members)
                    registered.append(
                        _register_union_view(spark, db, name, members)
                    )
        if registered:
            out[db] = registered
    return out


def register_sql_dir(
    spark: SparkSession, data_dir: str, database: str
) -> list[str]:
    """Register every ``*.parquet`` table under a flat directory (the
    testdata layout) as ``database.<name>`` external tables. Metadata
    only; idempotent."""
    out = []
    claims = _IdentClaims()
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        name = claims.claim(
            database, _ident(entry[: -len(".parquet")]), entry
        )
        out.append(
            register_parquet_table(
                spark, database, name, os.path.join(data_dir, entry)
            )
        )
    return out
