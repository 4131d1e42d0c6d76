"""Versioned-manifest table format on plain parquet — the engine's answer
to the reference's Delta surface (SURVEY §2.2 K1-K5:
`common_jobs_functions.py:279-349` — MERGE, dynamic overwrite, vacuum,
manifest, time travel) in an environment without delta-spark.

Layout:

    <table>/
      _txlog/v0000000001.json           one DELTA record per committed version
      _txlog/c0000000010.json           full-snapshot CHECKPOINT every N commits
      _txlog/c0000000010.part0000.json  checkpoint shard (snapshots > 50k files)
      _txlog/_last_checkpoint           hint: newest checkpoint version
      data/<batch-uuid>/[k=v/...]part-*.parquet

Each commit record is a DELTA of file actions — ``add`` (file entries with
partition values / stats / bloom bitsets), ``remove`` (paths), and
``truncate`` (drop everything prior: overwrite/restore) — so an append to
a 100k-file table writes a record proportional to the APPENDED files, not
the table. Every ``_CHECKPOINT_EVERY`` commits a checkpoint manifest with
the fully-resolved file listing + schema is written (plus the
``_last_checkpoint`` hint), exactly the Delta transaction-log shape the
reference's tables rely on at scale (`common_jobs_functions.py:271-319` —
Delta's ``_last_checkpoint`` + multi-part checkpoints). Readers resolve a
snapshot from ONE checkpoint plus the ≤ N tail deltas — never a directory
listing of data, never O(versions) JSON — so they see a consistent
snapshot regardless of concurrent writers (snapshot isolation), and any
older version remains readable (time travel) until vacuumed.

Commit protocol: data files are written under a fresh batch dir (invisible
to readers — nothing references them), then the delta record is claimed as
``v<N>.json`` via create-no-overwrite; the implementation refuses to
clobber an existing version and retries at N+1 (optimistic concurrency).
A crash at ANY point before the claim leaves the table at the previous
version with only orphan data files — exactly Delta's failure model — and
``tx_vacuum`` reaps unreferenced files later. Checkpoints are written
AFTER the commit, best-effort: a missed checkpoint only lengthens the
delta tail the next reader replays, never affects correctness.

Scale notes: checkpoints carry file paths + partition values, KBs per
thousand files — the driver handles them; data never moves through the
driver. MERGE leaves untouched partitions' file references in place
(no data rewrite, no re-listing) and writes new files only for touched
partitions — Delta's file-pruned MERGE. Reads group files by batch dir
and unionByName (partition columns recovered via per-batch basePath);
long table histories should compact periodically (``tx_compact``
collapses the batch dirs; ``tx_vacuum`` truncates the log, writing a
checkpoint at the oldest kept version so resolution stays grounded).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import logging
import os
import re
import time
import uuid
from typing import Callable, NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_logger = logging.getLogger(__name__)

_LOG = "_txlog"
_DATA = "data"
_DV = "_dv"  # deletion-vector sidecar batches (parquet: rel, ri)


class TxCheckViolation(RuntimeError):
    """A write violated a declared CHECK constraint — the txlog twin of
    Delta's ``CHECK`` table constraints / InvariantViolationException.
    Nothing is committed; the table is unchanged."""


class TxSchemaMismatch(RuntimeError):
    """A write's schema drifts from the table schema — the txlog twin of
    Delta's schema enforcement (``AnalysisException: A schema mismatch
    detected``). New columns need an explicit ``schema_evolution=True``
    (Delta's ``mergeSchema``); a type change on an existing column is
    always refused (so is Delta's default — rewrite the table instead).
    Nothing is committed; the table is unchanged."""


class TxConflictError(RuntimeError):
    """A concurrent commit invalidated this transaction's read set — the
    txlog twin of Delta's ``ConcurrentAppendException`` /
    ``ConcurrentDeleteReadException``. The caller should re-run the whole
    operation against the new snapshot (the table is unchanged by the
    failed attempt; its orphan batch files are reaped by ``tx_vacuum``)."""


class TxPropertyViolation(RuntimeError):
    """An operation is forbidden by a table property — the txlog twin of
    Delta's ``delta.appendOnly`` enforcement (an append-only table refuses
    any commit that removes, truncates, or soft-deletes rows). Nothing is
    committed; the table is unchanged."""


class _TxAlreadyApplied(Exception):
    """Internal: a ``txn``-tagged write found its version already at or
    below the table's per-app high-water mark at commit time — the replay
    must become a no-op, not a duplicate."""


class TxMergeError(RuntimeError):
    """A MERGE whose result would be ambiguous: multiple source rows
    match the same target row under WHEN clauses, so "which row's clause
    fires" is arbitrary — the txlog twin of Delta's
    DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW. Clause-mode merges
    refuse instead of silently picking a winner."""


class TxProtocolError(RuntimeError):
    """The table requires a feature this reader/writer does not implement —
    the txlog twin of Delta's protocol action (minReaderVersion /
    readerFeatures; reference tables inherit it from Delta,
    `common_jobs_functions.py:271`). A table written with deletion vectors
    must be UNREADABLE-LOUDLY, never silently-wrong, to a reader that does
    not know deletion vectors."""


# --------------------------------------------------------------------------
# Protocol / table features: commit records (and checkpoint headers) may
# carry a ``protocol`` action — ``{"reader_features": [...],
# "writer_features": [...]}``. Features are MONOTONE (a table never drops
# one), so resolution is set-union along the log. Every commit that USES a
# feature embeds the full accumulated protocol (not just the first), so any
# grounded log suffix that contains such a commit also declares it — a
# vacuumed prefix can never hide a requirement.

FEATURE_DELETION_VECTORS = "deletion-vectors"
FEATURE_MULTIPART_CHECKPOINT = "multipart-checkpoint"
FEATURE_IDEMPOTENT_TXN = "idempotent-txn"  # writer-only: `txn` dedup records
FEATURE_COPY_LEDGER = "copy-into-ledger"  # writer-only: ingested-file marks
FEATURE_TYPE_WIDENING = "type-widening"  # reader+writer: narrow physicals
FEATURE_COLUMN_MAPPING = "column-mapping"
# writer-only (Delta: identityColumns / allowColumnDefaults): an old
# writer that ignores the `identity.<col>` / `default.<col>` properties
# would append rows without allocating ids or applying defaults — it must
# refuse; readers see ordinary columns.
FEATURE_IDENTITY_COLUMNS = "identity-columns"
FEATURE_COLUMN_DEFAULTS = "column-defaults"

SUPPORTED_READER_FEATURES = frozenset(
    {
        FEATURE_DELETION_VECTORS,
        FEATURE_MULTIPART_CHECKPOINT,
        FEATURE_COLUMN_MAPPING,
        FEATURE_IDEMPOTENT_TXN,  # txn records are invisible to readers
        FEATURE_TYPE_WIDENING,
    }
)
SUPPORTED_WRITER_FEATURES = frozenset(
    {
        FEATURE_DELETION_VECTORS,
        FEATURE_MULTIPART_CHECKPOINT,
        FEATURE_COLUMN_MAPPING,
        FEATURE_IDEMPOTENT_TXN,
        FEATURE_COPY_LEDGER,
        FEATURE_IDENTITY_COLUMNS,
        FEATURE_COLUMN_DEFAULTS,
        FEATURE_TYPE_WIDENING,
    }
)


# --------------------------------------------------------------------------
# Column mapping (Delta's columnMapping name-mode twin): each schema field
# may carry ``metadata.txlog_physical`` — the IMMUTABLE name the column has
# inside data files. Rename changes only the logical name; drop removes the
# field from the schema while its physical data stays dormant in old files;
# columns added later get FRESH physical ids so a re-added logical name can
# never resurrect a dropped column's data. All public predicates, keys, and
# column lists are LOGICAL; translation to physical happens at the file
# boundary. Tables with a non-identity mapping declare the column-mapping
# feature (reader AND writer).


def _schema_mapping(schema_json: str | None) -> dict[str, str]:
    """logical name → physical name (identity for unstamped fields)."""
    if not schema_json:
        return {}
    sch = json.loads(schema_json)
    return {
        f["name"]: (f.get("metadata") or {}).get("txlog_physical", f["name"])
        for f in sch.get("fields", ())
    }


def _mapping_is_identity(mapping: dict[str, str]) -> bool:
    return all(k == v for k, v in mapping.items())


def _mapping_active(schema_json: str | None) -> bool:
    """True once any field carries a stamped physical name — the mapping
    can be IDENTITY yet active (e.g. after a drop), and an active table
    must keep assigning fresh physical ids to new columns so dropped
    data stays dormant."""
    if not schema_json:
        return False
    return any(
        (f.get("metadata") or {}).get("txlog_physical")
        for f in json.loads(schema_json).get("fields", ())
    )


def _map_names(names, mapping: dict[str, str]):
    return [mapping.get(n, n) for n in names] if names else names


def _map_keys(d, mapping: dict[str, str]):
    return {mapping.get(k, k): v for k, v in d.items()} if d else d


def _quoted_spans(text: str) -> list[tuple[int, int]]:
    """(start, end) spans of single- AND double-quoted literals
    (doubled-quote escapes) and backquoted identifiers — regions
    expression rewriting must not touch (shared by the SQL DML router's
    statement rewrites). Spark SQL accepts ``"…"`` as a string literal
    by default (doubleQuotedIdentifiers off), so double-quoted spans
    are data too."""
    spans, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if c in ("'", '"'):
            j = i + 1
            while j < n:
                if text[j] == c:
                    if j + 1 < n and text[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, n)))
            i = j + 1
        elif c == "`":
            j = text.find("`", i + 1)
            j = n - 1 if j == -1 else j
            spans.append((i, j + 1))
            i = j + 1
        else:
            i += 1
    return spans


def _sub_outside_quotes(rx: "re.Pattern", repl, text: str) -> str:
    """``rx.sub`` that skips matches starting inside quoted regions —
    text spelled inside a string literal is DATA, not syntax."""
    spans = _quoted_spans(text)
    out, last = [], 0
    for m in rx.finditer(text):
        if any(a <= m.start() < b for a, b in spans):
            continue
        out.append(text[last:m.start()])
        out.append(repl(m) if callable(repl) else m.expand(repl))
        last = m.end()
    out.append(text[last:])
    return "".join(out)


def _to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename a logical-named frame to physical file names for writing."""
    if _mapping_is_identity(mapping):
        return df
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _to_logical(df: DataFrame, schema_json: str) -> DataFrame:
    """Project a physical-named frame onto the schema's logical names.
    Physical columns absent from the frame (added after these files were
    written) null-pad; dormant dropped columns are simply not selected.
    A column whose FRAME type differs from the table schema is cast to
    the schema type — partition columns are recovered from hive path
    segments as strings (the session pins
    ``partitionColumnTypeInference.enabled=false``), and the snapshot
    must serve them with their DECLARED type, exactly as Delta casts
    log-stored partition string values to the table schema. Internal
    ``_txlog_*`` position columns ride along untouched."""
    from pyspark.sql.types import StructType

    sch = StructType.fromJson(json.loads(schema_json))
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for fld in sch.fields:
        phys = (fld.metadata or {}).get("txlog_physical", fld.name)
        if phys in have:
            c = F.col(phys)
            if have[phys] != fld.dataType:
                c = c.cast(fld.dataType)
            cols.append(c.alias(fld.name))
        else:
            cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
    for extra in ("_txlog_fp", "_txlog_ri"):
        if extra in have:
            cols.append(F.col(extra))
    return df.select(*cols)


def _fresh_physical() -> str:
    return f"col-{uuid.uuid4().hex[:12]}"


def _is_abs_ref(ref: str) -> bool:
    """True for absolute / scheme-qualified paths (``/x``, ``file:/x``,
    ``s3://b/x``) vs table-root-relative manifest refs."""
    return ref.startswith("/") or ":" in ref.split("/", 1)[0]


def _merge_protocol(base: dict | None, action: dict | None) -> dict | None:
    """Union two protocol records (feature sets are monotone)."""
    if not action:
        return base
    base = base or {}
    return {
        "reader_features": sorted(
            set(base.get("reader_features", ()))
            | set(action.get("reader_features", ()))
        ),
        "writer_features": sorted(
            set(base.get("writer_features", ()))
            | set(action.get("writer_features", ()))
        ),
    }


def check_reader_protocol(protocol: dict | None, path: str = "") -> None:
    """Raise :class:`TxProtocolError` if the table declares a reader
    feature this build does not implement (Delta: unknown readerFeatures
    make the table unreadable, never silently wrong)."""
    unknown = set((protocol or {}).get("reader_features", ())) - set(
        SUPPORTED_READER_FEATURES
    )
    if unknown:
        raise TxProtocolError(
            f"table {path or '<txlog>'} requires reader feature(s) "
            f"{sorted(unknown)} this reader does not implement "
            f"(supported: {sorted(SUPPORTED_READER_FEATURES)})"
        )


def check_writer_protocol(protocol: dict | None, path: str = "") -> None:
    """Raise :class:`TxProtocolError` if the table declares a writer
    feature this build does not implement — an old writer must refuse to
    commit to a table whose invariants it cannot maintain."""
    unknown = set((protocol or {}).get("writer_features", ())) - set(
        SUPPORTED_WRITER_FEATURES
    )
    if unknown:
        raise TxProtocolError(
            f"table {path or '<txlog>'} requires writer feature(s) "
            f"{sorted(unknown)} this writer does not implement "
            f"(supported: {sorted(SUPPORTED_WRITER_FEATURES)})"
        )


def _protocol_with(
    existing: dict | None, reader: tuple = (), writer: tuple = ()
) -> dict:
    """The full accumulated protocol after adding the given features —
    what a feature-using commit embeds as its ``protocol`` action."""
    return _merge_protocol(
        existing or {"reader_features": [], "writer_features": []},
        {"reader_features": sorted(reader), "writer_features": sorted(writer)},
    )


# --------------------------------------------------------------------------
# LogStore: pluggable transaction-LOG storage — the txlog twin of Delta's
# public LogStore plugin interface (delta-io LogStore API). Every byte of
# commit/checkpoint JSON funnels through six primitives, so an object-store
# deployment swaps in a store whose ``put_if_absent`` uses the store's
# conditional write (S3 ``If-None-Match: *``, GCS ``if-generation-match=0``,
# ABFS ETag preconditions) without touching the commit protocol. DATA files
# are deliberately NOT routed through it — they are parquet written by Spark
# executors; only the log (driver-side, tiny JSON) needs the stronger
# primitive. When no store is registered, log I/O uses the local-posix /
# Hadoop-FS paths below.


class LogStore:
    """Six primitives the commit protocol needs from the ``_txlog`` dir.

    ``put_if_absent`` MUST be atomic (the version claim); the remaining
    five only need read-after-write consistency, which every current
    object store provides. Paths are the full log-file paths txlog
    constructs (``<table>/_txlog/v….json`` etc.)."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_text(self, path: str, text: str) -> None:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def list_names(self, log_dir: str) -> list[str]:
        """Direct child names of ``log_dir`` ([] if it doesn't exist)."""
        raise NotImplementedError

    def put_if_absent(self, path: str, text: str) -> bool:
        """Atomically create ``path`` with ``text`` iff absent; False if it
        already exists (the conditional put backing the version claim)."""
        raise NotImplementedError


class InMemoryCASLogStore(LogStore):
    """Reference LogStore over a process-local dict with a lock-guarded
    compare-and-set ``put_if_absent`` — models an object store's
    conditional put (claim atomicity comes from the CAS itself, not from
    the posix O_EXCL the default path uses). Used by the contention tests;
    also the template a real S3/GCS store would follow."""

    def __init__(self) -> None:
        import threading

        self._files: dict[str, str] = {}
        self._lock = threading.Lock()

    def exists(self, path: str) -> bool:
        return path in self._files

    def read_text(self, path: str) -> str:
        try:
            return self._files[path]
        except KeyError:
            raise FileNotFoundError(path) from None

    def write_text(self, path: str, text: str) -> None:
        self._files[path] = text

    def delete(self, path: str) -> None:
        self._files.pop(path, None)

    def list_names(self, log_dir: str) -> list[str]:
        pre = log_dir.rstrip("/") + "/"
        return [
            p[len(pre):]
            for p in list(self._files)
            if p.startswith(pre) and "/" not in p[len(pre):]
        ]

    def put_if_absent(self, path: str, text: str) -> bool:
        with self._lock:
            if path in self._files:
                return False
            self._files[path] = text
            return True


_LOG_STORE: LogStore | None = None


def set_log_store(store: LogStore | None) -> None:
    """Register (or with None, clear) the process-wide LogStore routing all
    transaction-log I/O. Like Delta's ``spark.delta.logStore.class``, this
    is deployment configuration: set it once before touching tables."""
    global _LOG_STORE
    _LOG_STORE = store


def get_log_store() -> LogStore | None:
    return _LOG_STORE


def _store_for(path: str) -> LogStore | None:
    """The registered store iff ``path`` lies in a ``_txlog`` log dir —
    data-file paths keep the filesystem route."""
    if _LOG_STORE is None:
        return None
    p = path.rstrip("/")
    return _LOG_STORE if (f"/{_LOG}/" in p or p.endswith(f"/{_LOG}")) else None


# --------------------------------------------------------------------------
# Hadoop FS helpers (FS-agnostic: local in tests, object store on cluster).


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


# Local-FS fast paths: the log layer's tiny-JSON I/O costs several py4j
# round trips per call through the Hadoop API; on posix paths plain
# python I/O is both faster (matters at one call per commit attempt) and
# STRONGER for the claim (O_CREAT|O_EXCL is kernel-atomic, where Hadoop's
# RawLocalFileSystem create(overwrite=false) is check-within-create).
# Object-store paths keep the Hadoop route untouched.


def _exists(spark: SparkSession, path: str) -> bool:
    st = _store_for(path)
    if st is not None:
        return st.exists(path)
    local = _as_local_dir(path)
    if local is not None:
        return os.path.exists(local)
    fs, p, _ = _fs(spark, path)
    return fs.exists(p)


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    st = _store_for(path)
    if st is not None:
        return st.write_text(path, text)
    local = _as_local_dir(path)
    if local is not None:
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with open(local, "w", encoding="utf-8") as f:
            f.write(text)
        return
    fs, p, _ = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    st = _store_for(path)
    if st is not None:
        return st.read_text(path)
    local = _as_local_dir(path)
    if local is not None:
        with open(local, encoding="utf-8") as f:
            return f.read()
    fs, p, jvm = _fs(spark, path)
    stream = fs.open(p)
    try:
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream))
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def _rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, s, jvm = _fs(spark, src)
    return fs.rename(s, jvm.org.apache.hadoop.fs.Path(dst))


def _delete(spark: SparkSession, path: str) -> None:
    st = _store_for(path)
    if st is not None:
        return st.delete(path)
    fs, p, _ = _fs(spark, path)
    fs.delete(p, True)


def _list_parquet_files(spark: SparkSession, root: str) -> list[tuple[str, int]]:
    """Recursive (relative path, size bytes) of parquet data files under
    ``root`` — sizes flow into the manifest entries so maintenance ops
    (small-file OPTIMIZE) can bin-pack without re-listing storage."""
    fs, p, _ = _fs(spark, root)
    out = []
    it = fs.listFiles(p, True)
    prefix = fs.makeQualified(p).toString()
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            out.append((full[len(prefix) :].lstrip("/"), int(st.getLen())))
    return sorted(out)


def _partition_of(rel_path: str) -> dict[str, str]:
    """Parse k=v partition dirs from a relative file path."""
    parts = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            parts[k] = v
    return parts


# --------------------------------------------------------------------------
# Manifest resolution.


# Checkpoint cadence: every Nth commit writes a full-snapshot checkpoint.
# Delta's default is every 10 commits (spark.databricks.delta.checkpointInterval);
# resolution cost is bounded by 1 checkpoint read + <N delta reads.
_CHECKPOINT_EVERY = 10

# Multi-part checkpoints (Delta's multi-part checkpoint files): above this
# many file entries the checkpoint manifest shards into
# ``c<N>.part0000.json`` slices under a small header, so no single JSON
# document grows with the table — a 1M-file table checkpoints as ~20
# bounded parts instead of one ~100 MB blob.
_CHECKPOINT_MAX_PART = 50_000


def _checkpoint_part_path(path: str, version: int, part: int) -> str:
    return f"{path.rstrip('/')}/{_LOG}/c{version:010d}.part{part:04d}.json"


def _version_path(path: str, version: int) -> str:
    return f"{path.rstrip('/')}/{_LOG}/v{version:010d}.json"


def _checkpoint_path(path: str, version: int) -> str:
    return f"{path.rstrip('/')}/{_LOG}/c{version:010d}.json"


def _last_checkpoint_path(path: str) -> str:
    return f"{path.rstrip('/')}/{_LOG}/_last_checkpoint"


def _as_local_dir(path: str) -> str | None:
    """The posix directory behind ``path`` if it addresses the local
    filesystem (``/…``, ``file:/…``, ``file:///…``), else None."""
    p = path
    if p.startswith("file:"):
        p = p[5:]
        if p.startswith("//"):  # file://host/… — host must be empty/localhost
            p = p[2:]
            p = p[p.index("/"):] if "/" in p else ""
    return p if p.startswith("/") else None


def _log_listing(spark: SparkSession, path: str) -> tuple[list[int], list[int]]:
    """(committed versions, checkpoint versions) from ONE log-dir listing.

    Local-FS fast path: one ``os.listdir`` instead of per-entry py4j round
    trips — on a long log the JVM FileStatus iteration costs O(versions)
    driver round trips PER listing, which turns a 1,000-commit history
    into O(versions²) overhead. Object-store paths use the Hadoop listing
    (one RPC there; the py4j cost is a local-mode artifact)."""
    log = f"{path.rstrip('/')}/{_LOG}"
    st = _store_for(log)
    if st is not None:
        names = st.list_names(log)
    elif (local := _as_local_dir(log)) is not None:
        try:
            names = os.listdir(local)
        except (FileNotFoundError, NotADirectoryError):
            return [], []
    else:
        if not _exists(spark, log):
            return [], []
        fs, p, _ = _fs(spark, log)
        names = [fstat.getPath().getName() for fstat in fs.listStatus(p)]
    versions, checkpoints = [], []
    for name in names:
        if name.endswith(".json") and name[:1] in ("v", "c"):
            try:
                (versions if name[0] == "v" else checkpoints).append(
                    int(name[1:-5])
                )
            except ValueError:
                continue
    return sorted(versions), sorted(checkpoints)


def list_versions(spark: SparkSession, path: str) -> list[int]:
    return _log_listing(spark, path)[0]


def current_version(spark: SparkSession, path: str) -> int | None:
    vs = list_versions(spark, path)
    return vs[-1] if vs else None


def read_commit(
    spark: SparkSession, path: str, version: int, check_protocol: bool = True
) -> dict:
    """The RAW delta record of one commit (op, schema, add/remove/truncate
    actions) — O(record), no resolution. Legacy full-manifest records
    (pre-checkpoint format, carrying ``files``) pass through unchanged.
    A record whose ``protocol`` action requires unknown reader features
    raises loudly (every consumer applying commits incrementally — tail
    resolution, the streaming source, CDF — must not half-interpret it);
    ``check_protocol=False`` is for metadata-only display (history,
    doctor)."""
    rec = json.loads(_read_text(spark, _version_path(path, version)))
    if check_protocol:
        check_reader_protocol(rec.get("protocol"), path)
    return rec


def _apply_commit(files: dict[str, dict], rec: dict) -> dict[str, dict]:
    """Apply one commit record to a path→entry snapshot state."""
    if "files" in rec:  # legacy full-snapshot manifest: authoritative
        return {f["path"]: f for f in rec["files"]}
    if rec.get("truncate"):
        files = {}
    for p in rec.get("remove", ()):
        files.pop(p, None)
    for f in rec.get("add", ()):
        files[f["path"]] = f
    return files


def read_manifest(
    spark: SparkSession,
    path: str,
    version: int,
    _listing: tuple[list[int], list[int]] | None = None,
) -> dict:
    """The RESOLVED snapshot at ``version``: ``{"op", "schema", "files",
    "version"}`` with the full file listing — reconstructed from the
    newest checkpoint at-or-below ``version`` plus the tail delta records,
    reading ≤ 1 + ``_CHECKPOINT_EVERY`` log files regardless of how many
    commits the table has (the Delta ``_last_checkpoint`` resolution
    model, `common_jobs_functions.py:271-319`)."""
    versions, checkpoints = (
        _listing if _listing is not None else _log_listing(spark, path)
    )
    if version not in versions and version not in checkpoints:
        raise FileNotFoundError(
            f"version {version} not available at {path} (vacuumed or never "
            f"committed; retained: {versions[:3]}..{versions[-3:]})"
            if versions
            else f"no committed version at {path}"
        )
    base = max((c for c in checkpoints if c <= version), default=None)
    files: dict[str, dict] = {}
    schema = None
    op = None
    protocol: dict | None = None
    extra: dict = {}
    txns: dict[str, int] = {}
    properties: dict = {}
    identity: dict[str, int] = {}
    copy_files: set[str] = set()
    if base is not None:
        cp = _load_checkpoint(spark, path, base)
        files = {f["path"]: f for f in cp["files"]}
        schema, op = cp.get("schema"), cp.get("op", "checkpoint")
        protocol = cp.get("protocol")
        txns = dict(cp.get("txns", {}))
        properties = dict(cp.get("properties", {}))
        identity = dict(cp.get("identity", {}))
        copy_files = set(cp.get("copy_files", []))
    tail = [v for v in versions if (base if base is not None else 0) < v <= version]
    for i, v in enumerate(tail):
        rec = read_commit(spark, path, v)
        if base is None and i == 0 and v != 1:
            # the chain is not grounded: no checkpoint below, and the
            # earliest surviving delta is not the table's first commit —
            # unless it re-establishes the full state itself
            if "files" not in rec and not rec.get("truncate"):
                raise FileNotFoundError(
                    f"cannot resolve v{version} at {path}: log history "
                    f"before v{v} was removed without a checkpoint"
                )
        files = _apply_commit(files, rec)
        schema = rec.get("schema", schema)
        op = rec.get("op", op)
        protocol = _merge_protocol(protocol, rec.get("protocol"))
        if "txn" in rec:  # idempotent-writer high-water mark (Delta txn)
            app = rec["txn"]["app"]
            txns[app] = max(txns.get(app, -1), int(rec["txn"]["version"]))
        if "copy_files" in rec:  # COPY INTO's ingested-file ledger
            copy_files.update(rec["copy_files"])
        if "identity" in rec:
            # identity high-water marks: last-write-wins per column is
            # correct because the tail applies in version order and every
            # commit's recorded mark is re-validated against the snapshot
            # it won against (allocation conflicts rewrite, never reuse)
            identity.update({c: int(v) for c, v in rec["identity"].items()})
        if "properties" in rec:  # last-write-wins per key; None unsets
            for k, v in rec["properties"].items():
                if v is None:
                    properties.pop(k, None)
                else:
                    properties[k] = v
        extra = {
            k: rec[k] for k in ("restore_of", "clone_of") if k in rec
        }
    check_reader_protocol(protocol, path)
    return {
        "op": op,
        "schema": schema,
        "files": list(files.values()),
        "version": version,
        "protocol": protocol,
        "txns": txns,
        "properties": properties,
        "identity": identity,
        "copy_files": sorted(copy_files),
        **extra,
    }


def _load_checkpoint(spark: SparkSession, path: str, version: int) -> dict:
    """A checkpoint's full content. Single-file checkpoints carry their
    ``files`` inline; multi-part checkpoints carry a ``parts`` count in
    the header and the file entries in ``c<N>.partNNNN.json`` slices
    (written BEFORE the header, so a torn writer never leaves a readable
    header pointing at missing parts)."""
    cp = json.loads(_read_text(spark, _checkpoint_path(path, version)))
    # fail loudly BEFORE interpreting the body — a reader that does not
    # know the part format must not half-read a sharded checkpoint
    check_reader_protocol(cp.get("protocol"), path)
    if "parts" in cp:
        files: list[dict] = []
        for i in range(int(cp["parts"])):
            part = json.loads(
                _read_text(spark, _checkpoint_part_path(path, version, i))
            )
            files.extend(part["files"])
        cp = {**cp, "files": files}
    return cp


def _write_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Materialize the resolved snapshot at ``version`` as a checkpoint
    manifest + the ``_last_checkpoint`` hint. Idempotent (same content for
    the same version) and safe to lose — readers fall back to an older
    checkpoint with a longer delta tail. Snapshots larger than
    ``_CHECKPOINT_MAX_PART`` entries shard into part files (header last,
    so readers never see a half-written multi-part checkpoint)."""
    snap = read_manifest(spark, path, version)
    header = {
        "op": "checkpoint",
        "version": version,
        "schema": snap["schema"],
    }
    if snap.get("protocol"):
        header["protocol"] = snap["protocol"]
    if snap.get("txns"):
        # idempotent-writer marks must survive log truncation at this
        # checkpoint, or a vacuum would re-open the door to replays
        header["txns"] = snap["txns"]
    if snap.get("properties"):
        header["properties"] = snap["properties"]
    if snap.get("identity"):
        # identity allocation marks must survive log truncation, or a
        # vacuumed prefix would reset allocation and reuse ids
        header["identity"] = snap["identity"]
    if snap.get("copy_files"):
        # the COPY INTO ledger must survive log truncation, or a vacuum
        # would re-open the door to re-ingesting already-loaded files
        header["copy_files"] = snap["copy_files"]
    fl = snap["files"]
    if len(fl) <= _CHECKPOINT_MAX_PART:
        header["files"] = fl
    else:
        # readers of a sharded checkpoint must know the part format —
        # declare it so an older reader fails loudly on the header
        header["protocol"] = _protocol_with(
            snap.get("protocol"), reader=(FEATURE_MULTIPART_CHECKPOINT,)
        )
        n_parts = (len(fl) + _CHECKPOINT_MAX_PART - 1) // _CHECKPOINT_MAX_PART
        for i in range(n_parts):
            _write_text(
                spark,
                _checkpoint_part_path(path, version, i),
                json.dumps(
                    {
                        "version": version,
                        "part": i,
                        "files": fl[
                            i * _CHECKPOINT_MAX_PART : (i + 1) * _CHECKPOINT_MAX_PART
                        ],
                    },
                    sort_keys=True,
                ),
            )
        header["parts"] = n_parts
    _write_text(
        spark, _checkpoint_path(path, version), json.dumps(header, sort_keys=True)
    )
    _write_text(
        spark, _last_checkpoint_path(path), json.dumps({"version": version})
    )


def _delete_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Remove a checkpoint and any part slices it shards into."""
    try:
        cp = json.loads(_read_text(spark, _checkpoint_path(path, version)))
        n_parts = int(cp.get("parts", 0))
    except (FileNotFoundError, ValueError):  # missing, torn or not JSON
        n_parts = 0
    for i in range(n_parts):
        _delete(spark, _checkpoint_part_path(path, version, i))
    _delete(spark, _checkpoint_path(path, version))


def version_at_timestamp(spark: SparkSession, path: str, ts) -> int:
    """The newest version committed at-or-before ``ts`` — Delta's
    ``TIMESTAMP AS OF`` resolution. ``ts`` is epoch seconds (int/float) or
    an ISO-8601 string (naive = UTC). Commit wall-clock stamps are
    monotonicized on read (``max(ts, prev)`` — Delta applies the same
    adjustment for writer clock skew); pre-timestamp commit records (older
    tables) inherit the previous effective stamp. Raises ValueError when
    ``ts`` precedes the earliest RETAINED commit (vacuumed history — same
    error Delta gives). O(retained versions) record reads, the same cost
    class as ``tx_history``."""
    if isinstance(ts, str):
        import datetime as dt

        parsed = dt.datetime.fromisoformat(ts)
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=dt.timezone.utc)
        target_ms = int(parsed.timestamp() * 1000)
    else:
        target_ms = int(float(ts) * 1000)
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no committed version at {path}")
    best = None
    prev = 0
    for v in versions:
        rec = read_commit(spark, path, v)
        eff = max(int(rec.get("ts_ms", 0)), prev)
        prev = eff
        if eff <= target_ms:
            best = v
        else:
            break
    if best is None:
        raise ValueError(
            f"timestamp {ts!r} is before the earliest retained commit at "
            f"{path} (v{versions[0]}); older history was vacuumed"
        )
    return best


def tx_history(spark: SparkSession, path: str) -> list[dict]:
    """All commit records, oldest first — op, version, add/remove counts
    per commit (raw delta records: O(changed files) each, like Delta's
    DESCRIBE HISTORY, not O(snapshot)). Each record gains an
    ``operation_metrics`` dict (Delta's operationMetrics): files added /
    removed, rows written (from the footer-recorded per-file ``rows``),
    and rows soft-deleted by new DV references in this commit. Metadata-
    only display: works even when the table requires reader features this
    build lacks (like DESCRIBE HISTORY does).

    On a vacuum-truncated log (oldest surviving version > 1) the DV
    replay is seeded from the grounding snapshot so later commits are
    charged only their true delta — without the seed, the first commit
    re-adding a DV'd entry would be charged its full cumulative dv_count.
    The grounding commit's own pre-state is gone, so ITS
    num_dv_deleted_rows reads 0 and the record carries
    ``dv_metrics_approximate: true``."""
    out = []
    seen_dv_counts: dict[str, int] = {}
    versions = list_versions(spark, path)
    truncated_ground = versions[0] if versions and versions[0] > 1 else None
    if truncated_ground is not None:
        for f in read_manifest(spark, path, truncated_ground)["files"]:
            if f.get("dv_count"):
                seen_dv_counts[f["path"]] = int(f["dv_count"])
    for v in versions:
        rec = read_commit(spark, path, v, check_protocol=False)
        adds = rec.get("add", rec.get("files", []))
        fresh = [f for f in adds if not f.get("dv_count")]
        dv_delta = 0
        for f in adds:
            if f.get("dv_count"):
                prev = seen_dv_counts.get(f["path"], 0)
                dv_delta += max(0, int(f["dv_count"]) - prev)
            seen_dv_counts[f["path"]] = int(f.get("dv_count", 0))
        rec["operation_metrics"] = {
            "num_added_files": len(adds),
            "num_removed_files": len(rec.get("remove", [])),
            "truncated": bool(rec.get("truncate")),
            "num_output_rows": sum(
                int(f["rows"]) for f in fresh if "rows" in f
            ),
            "num_dv_deleted_rows": dv_delta,
        }
        if v == truncated_ground:
            rec["operation_metrics"]["dv_metrics_approximate"] = True
        out.append(rec)
    return out


def tx_protocol(spark: SparkSession, path: str) -> dict:
    """The table's accumulated protocol (reader/writer feature sets) at
    the current version — empty sets for a pre-protocol table."""
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    return read_manifest(spark, path, cur).get("protocol") or {
        "reader_features": [],
        "writer_features": [],
    }


def _stamp_physicals(sch: dict) -> dict:
    """Freeze every field's physical name to its current name (the
    moment column mapping activates — Delta's upgrade-to-name-mode)."""
    fields = []
    for f in sch["fields"]:
        md = dict(f.get("metadata") or {})
        md.setdefault("txlog_physical", f["name"])
        fields.append({**f, "metadata": md})
    return {**sch, "fields": fields}


def _schema_change_commit(
    spark: SparkSession, path: str, op: str, transform, col: str
):
    """Metadata-only schema commit: stamp physicals, apply ``transform``
    to the field list, declare the column-mapping feature. No data file
    moves. A column referenced by a stored CHECK constraint cannot be
    renamed or dropped (Delta refuses the same way — the constraint expr
    would silently stop binding); drop the constraint first."""

    def build(now: int | None) -> dict:
        if now is None:
            raise FileNotFoundError(f"no committed version at {path}")
        snap = read_manifest(spark, path, now)
        if not snap["schema"]:
            raise ValueError(f"{op}: table at {path} has no schema record")
        props = snap.get("properties", {})
        constrained = [
            name
            for name, expr in _stored_checks(props).items()
            if re.search(rf"\b{re.escape(col)}\b", expr)
        ]
        if constrained:
            raise ValueError(
                f"{op}: column {col!r} is referenced by CHECK constraint(s) "
                f"{constrained}; drop them first (tx_drop_constraint)"
            )
        generated = [
            gcol
            for gcol, expr in _generated_cols(props).items()
            if gcol == col or re.search(rf"\b{re.escape(col)}\b", expr)
        ]
        if generated:
            raise ValueError(
                f"{op}: column {col!r} is a generated column or referenced "
                f"by generated column(s) {generated}; drop the declaration "
                f"first (tx_drop_generated)"
            )
        sch = _stamp_physicals(json.loads(snap["schema"]))
        sch = {**sch, "fields": transform(sch["fields"])}
        return {
            "op": op,
            "schema": json.dumps(sch),
            "add": [],
            "remove": [],
            "truncate": False,
            "protocol": _protocol_with(
                snap.get("protocol"),
                reader=(FEATURE_COLUMN_MAPPING,),
                writer=(FEATURE_COLUMN_MAPPING,),
            ),
        }

    return _commit(spark, path, build)


def tx_rename_column(spark: SparkSession, path: str, old: str, new: str) -> int:
    """METADATA-ONLY column rename (Delta's ``ALTER TABLE RENAME COLUMN``
    under column mapping): the logical name changes, the immutable
    physical name inside data files does not — zero files rewritten, and
    time travel to pre-rename versions shows the old name (each version
    reads through its own schema record). Activates the column-mapping
    feature, so pre-mapping readers fail loudly rather than serving
    physical names."""

    def transform(fields):
        names = [f["name"] for f in fields]
        if old not in names:
            raise ValueError(f"rename: no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"rename: column {new!r} already exists")
        return [{**f, "name": new} if f["name"] == old else f for f in fields]

    return _schema_change_commit(spark, path, "rename_column", transform, old)


def tx_drop_column(spark: SparkSession, path: str, col: str) -> int:
    """METADATA-ONLY column drop: the field leaves the schema; its
    physical data stays dormant in existing files (never selected). A
    later column added with the same logical name gets a FRESH physical
    id, so the dropped data can never be resurrected."""

    def transform(fields):
        names = [f["name"] for f in fields]
        if col not in names:
            raise ValueError(f"drop: no column {col!r} (have {names})")
        if len(fields) == 1:
            raise ValueError("drop: cannot drop the only column")
        return [f for f in fields if f["name"] != col]

    return _schema_change_commit(spark, path, "drop_column", transform, col)


def tx_add_column(
    spark: SparkSession, path: str, col: str, dtype, *, nullable: bool = True
) -> int:
    """METADATA-ONLY ``ALTER TABLE ADD COLUMN`` (Delta's twin): the field
    joins the table schema in one commit, no data file moves. Existing
    files simply lack the column, so every read path null-pads it (the
    same mechanics schema-evolving writes already rely on); later writes
    may populate it. ``dtype`` is a Spark DataType or a DDL string
    (``"decimal(10,2)"``). On column-MAPPED tables the new field gets a
    FRESH physical id, so it can never resurrect a dropped column's
    dormant data; unmapped tables keep identity naming (a drop activates
    mapping, so a same-name collision cannot exist there). The column
    must be nullable unless the table is empty — existing rows have no
    value for it (Delta refuses NOT NULL adds the same way)."""
    from pyspark.sql.types import DataType

    dt = DataType.fromDDL(dtype) if isinstance(dtype, str) else dtype
    type_json = json.loads(dt.json())

    def build(now: int | None) -> dict:
        if now is None:
            raise FileNotFoundError(f"no committed version at {path}")
        snap = read_manifest(spark, path, now)
        if not snap["schema"]:
            raise ValueError(f"add_column: table at {path} has no schema record")
        sch = json.loads(snap["schema"])
        names = [f["name"] for f in sch["fields"]]
        if col in names:
            raise ValueError(f"add_column: column {col!r} already exists")
        if not nullable and any(f.get("rows", 0) for f in snap["files"]):
            raise ValueError(
                f"add_column: cannot add NOT NULL column {col!r} to a "
                "non-empty table (existing rows have no value for it)"
            )
        # fresh-physical decision keys off the column-mapping PROTOCOL
        # feature, not the current mapping shape: after a DROP the live
        # mapping looks identity again, but the dropped column's data is
        # dormant in old files under its physical name — re-adding that
        # name without a fresh id would resurrect it
        proto = snap.get("protocol") or {}
        mapped = FEATURE_COLUMN_MAPPING in (
            list(proto.get("reader_features", []))
            + list(proto.get("writer_features", []))
        )
        md = {"txlog_physical": _fresh_physical()} if mapped else {}
        sch["fields"] = list(sch["fields"]) + [
            {
                "name": col,
                "type": type_json,
                "nullable": nullable,
                "metadata": md,
            }
        ]
        return {
            "op": "add_column",
            "schema": json.dumps(sch),
            "add": [],
            "remove": [],
            "truncate": False,
        }

    return _commit(spark, path, build)


_WIDENINGS = {
    # int-family → double is exact (|int32| < 2^53); long → double is NOT
    "byte": ("short", "integer", "long", "double"),
    "short": ("integer", "long", "double"),
    "integer": ("long", "double"),
    "float": ("double",),
}
_DECIMAL_T = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _is_widening(old_t: str, new_t: str) -> bool:
    """True when ``old_t → new_t`` is a LOSSLESS widening (Delta's type
    widening table feature): integer family up, float→double, decimal
    precision up at the SAME scale. Everything else — narrowing, scale
    changes, cross-family — is not."""
    if new_t in _WIDENINGS.get(old_t, ()):
        return True
    om, nm = _DECIMAL_T.match(old_t or ""), _DECIMAL_T.match(new_t or "")
    if om and nm:
        op, os_ = int(om.group(1)), int(om.group(2))
        np, ns = int(nm.group(1)), int(nm.group(2))
        return ns == os_ and np > op
    return False


def tx_widen_column(
    spark: SparkSession, path: str, col: str, new_type: str
) -> int:
    """``ALTER COLUMN col TYPE <wider>`` — Delta's type-widening table
    feature: a METADATA-ONLY commit changes the column's declared type;
    zero data files move. Existing files keep their narrow physical type
    and every reader casts at scan time (`_to_logical`; the Arrow path
    casts batches to the declared schema), which is lossless for the
    allowed widenings (int family up, float→double, decimal precision up
    at the same scale). Time travel to a pre-widening version serves the
    OLD type (schema is per-version). Narrowing and cross-family changes
    refuse — a lossy cast would corrupt silently.

    Protocol-gated as a READER+WRITER feature: an old reader that does
    not cast narrow physicals under a wider schema must refuse the whole
    table rather than serve mixed-width batches."""
    from pyspark.sql.types import StructType

    nt = new_type.strip().lower()
    # normalize DDL spellings to schema-json names
    nt = {
        "int": "integer", "bigint": "long", "smallint": "short",
        "tinyint": "byte", "real": "float",
    }.get(nt, nt)
    nt = re.sub(r"\s+", "", nt)
    try:
        StructType.fromDDL(f"x {new_type}")
    except ParseException:
        raise ValueError(
            f"widen_column: cannot parse type {new_type!r}"
        )

    def build(cur: int | None) -> dict:
        if cur is None:
            raise FileNotFoundError(f"no committed version at {path}")
        snap = read_manifest(spark, path, cur)
        if snap.get("schema") is None:
            raise ValueError(
                f"widen_column: table at {path} has no schema record"
            )
        sch = json.loads(snap["schema"])
        fld = next((f for f in sch["fields"] if f["name"] == col), None)
        if fld is None:
            raise ValueError(f"widen_column: no column {col!r} at {path}")
        old_t = fld["type"] if isinstance(fld["type"], str) else None
        if old_t == nt:
            raise ValueError(
                f"widen_column: {col!r} already has type {nt!r}"
            )
        if old_t is None or not _is_widening(old_t, nt):
            raise ValueError(
                f"widen_column: {old_t!r} -> {nt!r} is not a lossless "
                "widening (allowed: byte/short/int -> wider int, "
                "float -> double, decimal precision up at the same scale)"
            )
        fld["type"] = nt
        return {
            "op": "widen_column",
            "schema": json.dumps(sch),
            "add": [],
            "remove": [],
            "truncate": False,
            "protocol": _protocol_with(
                snap.get("protocol"),
                reader=(FEATURE_TYPE_WIDENING,),
                writer=(FEATURE_TYPE_WIDENING,),
            ),
        }

    return _commit(spark, path, build)


def tx_properties(spark: SparkSession, path: str) -> dict:
    """The table's properties at the current version (Delta's SHOW
    TBLPROPERTIES) — empty dict for a table that never set any."""
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    return dict(read_manifest(spark, path, cur).get("properties", {}))


def tx_set_properties(spark: SparkSession, path: str, props: dict) -> int:
    """SET/UNSET TBLPROPERTIES as a metadata-only commit: last write wins
    per key; a ``None`` value unsets the key. The enforced property is
    ``appendOnly`` (Delta's ``delta.appendOnly``): while true, any commit
    that removes files, truncates, or soft-deletes rows (DELETE, UPDATE,
    MERGE, overwrite, compaction, RESTORE) raises
    :class:`TxPropertyViolation`; plain appends — including ``txn``-tagged
    idempotent ones — proceed."""
    if not props:
        raise ValueError("tx_set_properties needs at least one key")

    def build(now: int | None) -> dict:
        if now is None:
            raise FileNotFoundError(f"no committed version at {path}")
        snap = read_manifest(spark, path, now)
        return {
            "op": "set_properties",
            "schema": snap["schema"],
            "add": [],
            "remove": [],
            "truncate": False,
            "properties": dict(props),
        }

    return _commit(spark, path, build)


_CHECK_PROP_PREFIX = "check."


def _stored_checks(properties: dict) -> dict[str, str]:
    """Persistent CHECK constraints stored as ``check.<name>`` properties
    (Delta's ALTER TABLE ADD CONSTRAINT model)."""
    return {
        k[len(_CHECK_PROP_PREFIX):]: v
        for k, v in properties.items()
        if k.startswith(_CHECK_PROP_PREFIX)
    }


def _skipping_defaults(
    properties: dict,
    stats_for: list[str] | None,
    bloom_for: list[str] | None,
) -> tuple[list[str] | None, list[str] | None]:
    """Table-level data-skipping defaults (the Delta dataSkippingStatsColumns
    idea): ``dataSkippingColumns`` / ``bloomFilterColumns`` properties name
    the columns every write and rewrite records stats/bloom bitsets for
    when the caller passes none — so an OPTIMIZE, DML rewrite, or sink that
    forgot ``stats_for`` can never silently strip the table's skipping
    indexes. Explicit arguments always win."""
    if stats_for is None and properties.get("dataSkippingColumns"):
        stats_for = [
            c.strip()
            for c in str(properties["dataSkippingColumns"]).split(",")
            if c.strip()
        ]
    if bloom_for is None and properties.get("bloomFilterColumns"):
        bloom_for = [
            c.strip()
            for c in str(properties["bloomFilterColumns"]).split(",")
            if c.strip()
        ]
    return stats_for, bloom_for


_PARTCOLS_PROP = "partitionColumns"


def _partition_default(
    manifest: dict | None, partition_by: list[str] | None
) -> list[str] | None:
    """Table-level partition columns (Delta records ``partitionColumns``
    as table METADATA — the writer never chooses). An explicit argument
    wins (``[]`` means explicitly unpartitioned); ``None`` INHERITS the
    table's layout: first from the ``partitionColumns`` property (written
    by partitioned ``tx_write``s, survives TRUNCATE's zero-file state),
    else — legacy tables written before the property existed — from any
    partitioned file's path-ordered partition dict, mapped back to
    LOGICAL names. This is what keeps DML rewrites, MERGE slices and
    OPTIMIZE output inside the hive layout: a file written unpartitioned
    into a partitioned table is invisible to dynamic-overwrite remove
    sets and to partition pruning."""
    if partition_by is not None:
        return list(partition_by) or None
    if manifest is None:
        return None
    raw = (manifest.get("properties") or {}).get(_PARTCOLS_PROP)
    if raw is not None:
        return [c.strip() for c in str(raw).split(",") if c.strip()] or None
    phys = next(
        (
            list(f["partition"])
            for f in manifest.get("files", [])
            if f.get("partition")
        ),
        None,
    )
    if not phys:
        return None
    inv = {p: l for l, p in _schema_mapping(manifest.get("schema")).items()}
    return [inv.get(p, p) for p in phys]


def table_partition_columns(manifest: dict) -> list[str]:
    """The table's partition columns (LOGICAL names, layout order) from a
    resolved manifest; ``[]`` when unpartitioned. Property-recorded
    metadata wins; legacy tables fall back to file-path derivation."""
    return _partition_default(manifest, None) or []


_GEN_PROP_PREFIX = "generated."


def _generated_cols(properties: dict) -> dict[str, str]:
    """GENERATED ALWAYS AS expressions stored as ``generated.<col>``
    properties (Delta's generated-columns model)."""
    return {
        k[len(_GEN_PROP_PREFIX):]: v
        for k, v in properties.items()
        if k.startswith(_GEN_PROP_PREFIX)
    }


def _generated_checks(properties: dict, only: list[str] | None = None) -> dict:
    """Generated-column invariants as named check exprs (null-safe
    equality): a row that CARRIES a generated column must carry exactly
    the generated value — Delta refuses mismatching explicit values the
    same way."""
    return {
        _GEN_PROP_PREFIX + c: f"{c} <=> ({e})"
        for c, e in _generated_cols(properties).items()
        if only is None or c in only
    }


def _write_invariants(properties: dict) -> dict:
    """Everything a committed row set must satisfy: stored CHECK
    constraints + generated-column equalities. Enforced on UPDATE
    post-images and MERGE winners (tx_write composes its own set because
    it also COMPUTES missing generated columns first)."""
    return {**_stored_checks(properties), **_generated_checks(properties)}


def tx_add_generated_column(
    spark: SparkSession, path: str, col: str, expr: str
) -> int:
    """Declare ``col`` GENERATED ALWAYS AS ``expr`` (Delta generated
    columns): writes that OMIT the column get it computed; writes that
    SUPPLY it must supply exactly the generated value (validated with the
    constraints, nothing commits on mismatch); UPDATE post-images and
    MERGE winners are validated too, so the invariant can never silently
    break — where Delta recomputes on UPDATE, this engine
    validates-or-refuses (the caller updates both sides consistently).
    The column must already exist; existing rows are validated now, like
    ``tx_add_constraint``. The column and every column its expr references
    refuse rename/drop while the declaration stands
    (:func:`tx_drop_generated`)."""
    if not col or "." in col:
        raise ValueError("generated column name must be non-empty, without dots")
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    snap = read_manifest(spark, path, cur)
    fields = [f["name"] for f in json.loads(snap["schema"])["fields"]]
    if col not in fields:
        raise ValueError(
            f"generated column {col!r} is not in the table schema {fields}"
        )
    _enforce_checks(
        tx_read(spark, path), {_GEN_PROP_PREFIX + col: f"{col} <=> ({expr})"}
    )
    return tx_set_properties(spark, path, {_GEN_PROP_PREFIX + col: expr})


def tx_drop_generated(spark: SparkSession, path: str, col: str) -> int:
    """Drop a generated-column declaration (the column itself stays)."""
    return tx_set_properties(spark, path, {_GEN_PROP_PREFIX + col: None})


_IDENTITY_PROP_PREFIX = "identity."
_DEFAULT_PROP_PREFIX = "default."


def _identity_cols(properties: dict) -> dict[str, dict]:
    """Identity declarations stored as ``identity.<col>`` properties:
    value is a JSON ``{"start": s, "step": k}`` (Delta's identityColumns
    model — GENERATED BY DEFAULT AS IDENTITY: omitted values are
    allocated, supplied values are kept and bump the high-water mark)."""
    return {
        k[len(_IDENTITY_PROP_PREFIX):]: json.loads(v)
        for k, v in properties.items()
        if k.startswith(_IDENTITY_PROP_PREFIX)
    }


def _column_defaults(properties: dict) -> dict[str, str]:
    """Column DEFAULT expressions stored as ``default.<col>`` properties
    (Delta's allowColumnDefaults model): a write that OMITS the column
    gets the expression computed; a write that supplies it keeps its
    values (unlike generated columns, no equality is enforced)."""
    return {
        k[len(_DEFAULT_PROP_PREFIX):]: v
        for k, v in properties.items()
        if k.startswith(_DEFAULT_PROP_PREFIX)
    }


def tx_add_identity(
    spark: SparkSession, path: str, col: str, start: int = 1, step: int = 1
) -> int:
    """Declare ``col`` GENERATED BY DEFAULT AS IDENTITY (START WITH
    ``start`` INCREMENT BY ``step``): writes that omit the column get
    monotone ids allocated from the table's high-water mark — allocation
    is atomic with the commit (a CAS loser whose watermark moved rewrites
    its batch with fresh ids, so two racing writers can never commit
    overlapping ranges); writes that supply the column keep their values
    and advance the mark past them. The mark lives in the manifest like
    txn marks (survives checkpoint + vacuum, follows CLONE) and is
    initialized past any existing values now. Declaring the feature
    upgrades the writer protocol so pre-identity writers refuse instead
    of appending unallocated rows."""
    if not col or "." in col:
        raise ValueError("identity column name must be non-empty, without dots")
    if step == 0:
        raise ValueError("identity step must be nonzero")
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    snap = read_manifest(spark, path, cur)
    fields = {
        f["name"]: f["type"] for f in json.loads(snap["schema"])["fields"]
    }
    if col not in fields:
        raise ValueError(f"identity column {col!r} is not in the table schema")
    if fields[col] not in ("long", "integer"):
        raise ValueError(
            f"identity column {col!r} must be long/integer (got {fields[col]})"
        )
    if _generated_cols(snap.get("properties", {})).get(col) is not None:
        raise ValueError(f"column {col!r} is already a generated column")
    # initialize the mark past existing data: the next allocated value is
    # mark + step, so an empty table starts exactly at `start`
    agg = tx_read(spark, path).agg(
        F.max(col).alias("mx"), F.min(col).alias("mn")
    ).collect()[0]
    mark = start - step
    if agg["mx"] is not None:
        mark = max(mark, int(agg["mx"])) if step > 0 else min(
            mark, int(agg["mn"])
        )
    mark = int(mark)

    def build(now: int | None) -> dict:
        if now is None:
            raise FileNotFoundError(f"no committed version at {path}")
        s = read_manifest(spark, path, now)
        return {
            "op": "add_identity",
            "schema": s["schema"],
            "add": [],
            "remove": [],
            "truncate": False,
            "properties": {
                _IDENTITY_PROP_PREFIX + col: json.dumps(
                    {"start": int(start), "step": int(step)}
                )
            },
            "identity": {col: mark},
            "protocol": _protocol_with(
                s.get("protocol"), writer=(FEATURE_IDENTITY_COLUMNS,)
            ),
        }

    return _commit(spark, path, build)


def tx_drop_identity(spark: SparkSession, path: str, col: str) -> int:
    """Drop an identity declaration (column and its values stay; the
    high-water mark stays in the manifest so re-declaring resumes past
    every id ever allocated)."""
    return tx_set_properties(spark, path, {_IDENTITY_PROP_PREFIX + col: None})


def tx_set_default(spark: SparkSession, path: str, col: str, expr: str) -> int:
    """Declare ``col``'s DEFAULT expression (ALTER TABLE ALTER COLUMN SET
    DEFAULT): applied when a write omits the column; existing rows are
    untouched (the standard SQL semantic). Upgrades the writer protocol —
    a pre-defaults writer appending without the column would silently
    write nulls where the table contract says default."""
    if not col or "." in col:
        raise ValueError("default column name must be non-empty, without dots")
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    snap = read_manifest(spark, path, cur)
    fields = [f["name"] for f in json.loads(snap["schema"])["fields"]]
    if col not in fields:
        raise ValueError(f"default column {col!r} is not in the table schema")
    if _generated_cols(snap.get("properties", {})).get(col) is not None:
        raise ValueError(
            f"column {col!r} is a generated column — it computes, "
            "it does not default"
        )
    # the expression must evaluate against the table schema NOW (catch
    # typos at declaration, not at the next write)
    from pyspark.sql.types import StructType

    spark.createDataFrame(
        [], StructType.fromJson(json.loads(snap["schema"]))
    ).select(F.expr(expr)).schema

    def build(now: int | None) -> dict:
        if now is None:
            raise FileNotFoundError(f"no committed version at {path}")
        s = read_manifest(spark, path, now)
        return {
            "op": "set_default",
            "schema": s["schema"],
            "add": [],
            "remove": [],
            "truncate": False,
            "properties": {_DEFAULT_PROP_PREFIX + col: expr},
            "protocol": _protocol_with(
                s.get("protocol"), writer=(FEATURE_COLUMN_DEFAULTS,)
            ),
        }

    return _commit(spark, path, build)


def tx_drop_default(spark: SparkSession, path: str, col: str) -> int:
    """ALTER TABLE ALTER COLUMN DROP DEFAULT."""
    return tx_set_properties(spark, path, {_DEFAULT_PROP_PREFIX + col: None})


_ROW_TRACKING_PROP = "rowTracking"


def tx_enable_row_tracking(
    spark: SparkSession, path: str, col: str = "_row_id"
) -> int:
    """ROW TRACKING (Delta's rowTracking writer feature, materialized
    form): give every row a STABLE id that survives OPTIMIZE, UPDATE
    rewrites, and dynamic overwrites — the key that lets the CDF pair
    update images precisely across file rewrites (:func:`tx_diff_rows`)
    and makes incremental-view-maintenance keys rewrite-proof.

    Enablement is Delta's backfill shape: one rewrite materializes ids
    for existing rows (monotone, via the identity allocator — no global
    shuffle), then the column is declared GENERATED BY DEFAULT AS
    IDENTITY so every future write that omits it gets fresh ids atomically
    with its commit, and a stored CHECK refuses explicit NULL ids. DML
    rewrites carry the column like any other (values rewritten verbatim),
    so ids persist by construction; allocation-vs-allocation races are the
    identity machinery's conflict-rewrite. Explicit non-null ids are
    allowed (Delta: BY DEFAULT) and advance the mark — uniqueness under
    explicit supply is the writer's contract, as in Delta.

    Concurrency: the backfill overwrite is CONDITIONAL on the snapshot
    version it read (``require_version``) — a commit racing in between
    raises :class:`TxConflictError` instead of being silently discarded
    by the rewrite. Enablement is still a multi-commit sequence
    (backfill → identity → constraint → property), so run it on a
    QUIESCED table: a writer that appends between the backfill and
    ``tx_add_identity`` lands null ids and the constraint step fails
    loudly on them (nothing silent either way)."""
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    snap = read_manifest(spark, path, cur)
    fields = [f["name"] for f in json.loads(snap["schema"])["fields"]]
    if col in fields:
        raise ValueError(
            f"column {col!r} already exists — row tracking needs a fresh "
            "column it can own"
        )
    # backfill: materialize ids for every existing row in one rewrite
    # (partition layout is not preserved — enablement is a maintenance op
    # like OPTIMIZE; run it before, not after, clustering)
    backfilled, _mark, _ = _allocate_identity(
        tx_read(spark, path, version=cur), col, 0, 1
    )
    # stats_for the id column explicitly: the identity declaration lands
    # AFTER this write, so the automatic identity-rides-stats rule has not
    # kicked in yet — without per-file id ranges the row-keyed CDF stream
    # cannot range-group the enablement rewrite (catch-all diff instead)
    tx_write(
        spark, backfilled, path, mode="overwrite", require_version=cur,
        stats_for=[col],
    )
    tx_add_identity(spark, path, col, start=1, step=1)
    tx_add_constraint(spark, path, f"row_tracking_{col}", f"{col} IS NOT NULL")
    return tx_set_properties(spark, path, {_ROW_TRACKING_PROP: col})


def tx_diff_rows(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int | None = None,
    images: str = "post",
) -> DataFrame:
    """Change data feed keyed by the table's TRACKED ROW ID — exact
    row-level changes across any rewrite: an OPTIMIZE/compaction between
    the versions emits ZERO change rows (same ids, same values — where a
    key-based CDF on a rewritten table would have to re-emit or re-read
    everything), an UPDATE emits exactly its touched rows as
    update pre/post pairs, a DELETE its rows. The scan cost is the
    key-join of the two snapshots (one shuffle), same as
    :func:`tx_diff`."""
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    props = read_manifest(spark, path, cur).get("properties", {})
    col = props.get(_ROW_TRACKING_PROP)
    if not col:
        raise ValueError(
            f"row tracking is not enabled at {path} "
            "(tx_enable_row_tracking first)"
        )
    return tx_diff(spark, path, [col], v_from, v_to, images)


class _IdentityMoved(Exception):
    """A concurrent commit advanced an identity watermark this write
    allocated from — the batch must be rewritten with fresh ids."""


def _allocate_identity(
    df: DataFrame, col: str, last: int, step: int
) -> tuple[DataFrame, int, DataFrame]:
    """Assign ``last + step·(1..n)`` to ``col`` across the frame with ZERO
    exchange: pin the frame (localCheckpoint — partition layout frozen,
    so the per-partition counts stay valid for the second pass), count
    rows per Spark partition (one metadata-sized driver list), then stamp
    ids in a single Arrow pass where each task enumerates its own
    partition from its broadcast prefix-sum offset
    (``TaskContext.partitionId()``). No shuffle of any kind — the earlier
    window-over-partition-id form paid a full (balanced) hash Exchange of
    the batch; this is the distributed id-assignment shape that survives
    any frame size. Returns (frame-with-ids, new mark, pinned base frame
    for reuse)."""
    pinned = df.localCheckpoint(eager=True)
    counts = {
        r["p"]: r["c"]
        for r in pinned.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    if not counts:
        return pinned.withColumn(col, F.lit(None).cast("long")), last, pinned

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(pinned.schema.fields) + [StructField(col, LongType(), True)]
    )
    last_i, step_i = int(last), int(step)

    def stamp(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = 0
        base = offsets.get(pid, 0)
        for b in batches:
            n = b.num_rows
            ids = pa.array(
                [
                    last_i + step_i * (base + seen + i + 1)
                    for i in range(n)
                ],
                type=pa.int64(),
            )
            seen += n
            yield b.append_column(col, ids)

    out = pinned.mapInArrow(stamp, out_schema)
    return out, last + step * acc, pinned


def _identity_marks_from_stats(
    idents: dict[str, dict],
    new_files: list[dict],
    mapping: dict[str, str],
    base: dict[str, int],
) -> dict[str, int]:
    """Advance each identity mark past the values the batch actually
    wrote, read from the freshly recorded per-file stats — driver-side,
    zero extra jobs (the write paths force identity columns into
    ``stats_for``). An identity column that is ALSO a partition column
    records no file stats (``_write_batch`` drops partition columns from
    ``stats_for`` — their per-file min==max==the partition value), so the
    mark is derived from each file's hive ``partition`` values instead;
    without that fallback the mark would never advance and the next
    append would silently re-allocate the same ids."""
    out: dict[str, int] = {}
    for c, decl in idents.items():
        phys = mapping.get(c, c)
        step = int(decl.get("step", 1))
        vals = []
        for f in new_files:
            st = (f.get("stats") or {}).get(phys)
            if st is not None:
                v = st["max"] if step > 0 else st["min"]
                if v is not None:
                    vals.append(int(v))
                continue
            pv = (f.get("partition") or {}).get(phys)
            if pv is not None and pv != "__HIVE_DEFAULT_PARTITION__":
                vals.append(int(pv))
        mark = base.get(c)
        if vals:
            ext = max(vals) if step > 0 else min(vals)
            mark = ext if mark is None else (
                max(mark, ext) if step > 0 else min(mark, ext)
            )
        if mark is not None:
            out[c] = mark
    return out


def tx_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT: validate that EVERY existing row
    satisfies ``expr`` (Delta does the same full-table validation), then
    persist it as the ``check.<name>`` property — enforced on every
    subsequent write (tx_write any mode, MERGE winners, UPDATE
    post-images) until :func:`tx_drop_constraint`."""
    if not name or "." in name:
        raise ValueError("constraint name must be non-empty, without dots")
    _enforce_checks(tx_read(spark, path), {name: expr})
    return tx_set_properties(spark, path, {_CHECK_PROP_PREFIX + name: expr})


def tx_drop_constraint(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: unset the stored check."""
    return tx_set_properties(spark, path, {_CHECK_PROP_PREFIX + name: None})


def _check_append_only(properties: dict, rec: dict, path: str) -> None:
    """Refuse non-append commits on an appendOnly table. Soft deletes are
    caught by op (a DV commit removes nothing but IS a delete)."""
    if str(properties.get("appendOnly", "")).lower() != "true":
        return
    op = rec.get("op", "")
    if (
        rec.get("remove")
        or rec.get("truncate")
        or op in ("delete", "update", "merge", "restore")
    ):
        raise TxPropertyViolation(
            f"table {path} is appendOnly=true: commit op {op!r} "
            f"removes/truncates/soft-deletes rows; unset the property first "
            f"(tx_set_properties(..., {{'appendOnly': None}}))"
        )


def tx_txn_version(spark: SparkSession, path: str, app: str) -> int | None:
    """The highest ``txn`` version committed for ``app`` (Delta's
    ``txnVersion``): a restarted writer asks this to know which batches
    already landed. ``None`` when the app never committed."""
    cur = current_version(spark, path)
    if cur is None:
        return None
    return read_manifest(spark, path, cur).get("txns", {}).get(app)


def tx_upgrade_protocol(
    spark: SparkSession,
    path: str,
    reader_features: tuple = (),
    writer_features: tuple = (),
) -> int:
    """Explicitly declare features on a table (Delta's ``ALTER TABLE ...
    SET TBLPROPERTIES (delta.feature.X = 'supported')`` twin) via a
    metadata-only commit. Features are monotone — there is no downgrade.
    This writer refuses to declare a feature it does not itself implement
    (it could not then maintain the table)."""
    unknown = (set(reader_features) - SUPPORTED_READER_FEATURES) | (
        set(writer_features) - SUPPORTED_WRITER_FEATURES
    )
    if unknown:
        raise TxProtocolError(
            f"cannot declare feature(s) {sorted(unknown)} this build does "
            f"not implement"
        )

    def build(now: int | None) -> dict:
        if now is None:
            raise FileNotFoundError(f"no committed version at {path}")
        snap = read_manifest(spark, path, now)
        return {
            "op": "upgrade_protocol",
            "schema": snap["schema"],
            "add": [],
            "remove": [],
            "truncate": False,
            "protocol": _protocol_with(
                snap.get("protocol"),
                reader=tuple(reader_features),
                writer=tuple(writer_features),
            ),
        }

    return _commit(spark, path, build)


def _create_no_overwrite(spark: SparkSession, path: str, text: str) -> bool:
    """Write ``text`` to ``path`` failing if it exists — the putIfAbsent
    claim. A registered :class:`LogStore` supplies the store's conditional
    put; otherwise kernel-atomic O_CREAT|O_EXCL on posix paths,
    namenode-atomic on HDFS; Hadoop's local-FS fallback narrows to
    check-within-create (which the commit protocol's read-back verify
    covers either way)."""
    st = _store_for(path)
    if st is not None:
        return st.put_if_absent(path, text)
    local = _as_local_dir(path)
    if local is not None:
        os.makedirs(os.path.dirname(local), exist_ok=True)
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, text.encode("utf-8"))
        finally:
            os.close(fd)
        return True
    fs, p, _ = _fs(spark, path)
    try:
        out = fs.create(p, False)
    except Py4JJavaError as exc:
        # only an existing file is a lost claim: a permission or I/O error
        # must surface, not retry as contention
        if (
            exc.java_exception.getClass().getName()
            != "org.apache.hadoop.fs.FileAlreadyExistsException"
        ):
            raise
        return False
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def _commit(spark: SparkSession, path: str, build) -> int:
    """Optimistic commit: claim the next version number with a
    create-no-overwrite (putIfAbsent — namenode-atomic on HDFS; on S3/GCS
    register a :class:`LogStore` whose ``put_if_absent`` is the store's
    conditional put, see :func:`set_log_store`), then VERIFY by read-back
    that our token is the one that landed — belt-and-braces for
    filesystems where the exclusive create is only check-within-create.

    ``build(cur_version_or_None) -> delta record`` (keys ``op``,
    ``schema``, ``add``, ``remove``, ``truncate``, plus any op metadata)
    is re-invoked on EVERY attempt with the version that is current at
    that moment, so a lost claim never retries a stale snapshot: remove
    sets are recomputed against the concurrent winner's snapshot, and
    operations whose read set the winner invalidated raise
    :class:`TxConflictError` from inside ``build`` (Delta's
    logical-conflict check) instead of silently dropping the winner's
    files. Every rewrite (DML, MERGE, incremental OPTIMIZE) commits
    through :func:`_commit_rewrite`, the one place its conflicts are
    decided.

    After a successful claim, every ``_CHECKPOINT_EVERY``-th version
    writes a checkpoint manifest — best-effort (a failure only lengthens
    the next reader's delta tail)."""
    token = uuid.uuid4().hex
    for _ in range(50):
        cur = current_version(spark, path)
        rec = dict(build(cur))
        if cur is not None:
            # re-resolved on EVERY attempt, not once pre-loop: a concurrent
            # tx_set_properties(appendOnly=true) or protocol upgrade landing
            # during the CAS retry window must gate THIS attempt — an old
            # writer must refuse to commit to a table whose invariants it
            # cannot maintain (Delta: minWriterVersion / writerFeatures)
            snap = read_manifest(spark, path, cur)
            check_writer_protocol(snap.get("protocol"), path)
            # only the metadata-only set_properties op is exempt (it is how
            # appendOnly gets unset); a clone/restore record that merely
            # CARRIES properties still cannot truncate an appendOnly table
            if rec.get("op") != "set_properties":
                _check_append_only(snap.get("properties", {}), rec, path)
        rec["writer"] = token
        rec["ts_ms"] = int(time.time() * 1000)  # TIMESTAMP AS OF resolution
        version = (cur or 0) + 1
        rec["version"] = version
        dst = _version_path(path, version)
        if not _create_no_overwrite(spark, dst, json.dumps(rec, sort_keys=True)):
            continue  # lost the claim — rebuild against the winner
        try:
            landed = json.loads(_read_text(spark, dst))
        except Exception:
            continue  # torn read under contention — treat as lost
        if landed.get("writer") == token:
            if version % _CHECKPOINT_EVERY == 0:
                try:
                    _write_checkpoint(spark, path, version)
                except Exception:
                    # the commit is already durable and a checkpoint is an
                    # optimization: a failure only lengthens the log tail
                    # the next reader replays
                    _logger.warning(
                        "checkpoint of version %d of %s failed", version, path,
                        exc_info=True,
                    )
            _notify_commit(spark, path, version)
            return version
    raise RuntimeError(f"txlog commit contention at {path}")


# Post-commit listeners (in-process): the SQL serving layer registers one so
# a READ-OPTIMIZED catalog registration (native parquet relation over a
# snapshot manifest, core/sql_serving.py) is refreshed the moment any commit
# lands through this driver — the same freshness the Python Data Source gets
# by re-resolving per query plan. A listener failure never propagates: the
# commit is already durable, and an error here would look like a failed
# write that a caller retries (committing twice). It is logged once at WARN,
# and the listener invalidates what it could not refresh (the serving layer
# drops that registration, so its next read fails loudly instead of serving
# stale rows); the committed version is returned as usual.
_COMMIT_LISTENERS: list = []


def add_commit_listener(fn) -> None:
    """Register ``fn(spark, path, version)`` to run after every successful
    commit made by THIS process (idempotent per function object)."""
    if fn not in _COMMIT_LISTENERS:
        _COMMIT_LISTENERS.append(fn)


def _notify_commit(spark: SparkSession, path: str, version: int) -> None:
    for fn in list(_COMMIT_LISTENERS):
        try:
            fn(spark, path, version)
        except Exception as exc:
            _logger.warning(
                "post-commit listener %s failed after version %d of %s "
                "committed: %s",
                getattr(fn, "__qualname__", fn), version, path, exc,
                exc_info=True,
            )


def _commit_rewrite(
    spark: SparkSession,
    path: str,
    manifest: dict,
    op: str,
    read: set[str],
    add: list[dict],
    *,
    schema: str | None = None,
    dv: tuple[str, dict[str, int]] | None = None,
    overlaps=None,
    truncate: bool = False,
    exclusive: bool = False,
    extra=None,
) -> int:
    """Commit a rewrite (DML, MERGE, incremental OPTIMIZE) computed
    against ``manifest``: the one place its logical conflict check is
    decided (Delta's ConcurrentDelete / ConcurrentAppend checks). Each
    :func:`_commit` attempt re-checks against the winner's snapshot and
    raises :class:`TxConflictError` when

    - a file of ``read`` (the paths the rewrite read) was removed;
    - a file added since ``manifest`` matches ``overlaps``: a
      ``can_match(file)`` pruner (:func:`_file_pruner`) or a set of
      touched partition keys (:func:`_partition_key`);
    - ``truncate`` or ``exclusive``: any commit landed at all, a
      metadata-only one included.

    Without ``dv`` the record removes ``read`` and adds ``add`` (a
    ``truncate`` record replaces the whole table). ``dv=(ref, counts)``
    soft-deletes instead: each counted file's entry is rebuilt from the
    winner's snapshot with the sidecar ``ref`` appended (so a concurrent
    DV's references merge) and the record declares the DV feature.
    ``schema`` overrides ``manifest``'s schema record; ``extra(snapshot)``
    adds record keys. On a conflict or a property violation the new
    batch dirs and the sidecar are deleted before the error propagates."""
    base = manifest["version"]
    base_paths = {f["path"] for f in manifest["files"]}
    ref, counts = dv or (None, {})
    scope = "the touched partitions" if isinstance(overlaps, set) else None

    def overlapping(f: dict) -> bool:
        return _partition_key(f) in overlaps if scope else overlaps(f)

    def build(now: int | None) -> dict:
        snap = read_manifest(spark, path, now) if now is not None else {}
        now_by = {f["path"]: f for f in snap.get("files", [])}
        why = None
        if (truncate or exclusive) and now != base:
            why = "table changed concurrently"
        elif read - now_by.keys():
            # committing would resurrect the removed files' pre-images
            why = f"files in {scope or 'the read set'} were removed concurrently"
        elif overlaps is not None and any(
            overlapping(f) for p, f in now_by.items() if p not in base_paths
        ):
            # rows this rewrite never saw may match it
            why = f"concurrent append overlaps {scope or 'the predicate'}"
        if why:
            raise TxConflictError(
                f"{op} at {path}: {why} (base v{base}, now v{now})"
            )
        dv_entries = []
        for rel, n in sorted(counts.items()):
            entry = dict(now_by[rel])
            entry["dv"] = list(entry.get("dv", ())) + [ref]
            entry["dv_count"] = int(entry.get("dv_count", 0)) + n
            dv_entries.append(entry)
        rec = {
            "op": op,
            "schema": schema or manifest["schema"],
            "add": dv_entries + add,
            "remove": [] if dv or truncate else sorted(read),
            "truncate": truncate,
        }
        if counts:
            # every DV-using commit embeds the full accumulated protocol,
            # so any grounded log suffix containing it declares the feature
            rec["protocol"] = _protocol_with(
                snap.get("protocol"),
                reader=(FEATURE_DELETION_VECTORS,),
                writer=(FEATURE_DELETION_VECTORS,),
            )
        if extra is not None:
            rec.update(extra(snap))
        return rec

    try:
        return _commit(spark, path, build)
    except (TxConflictError, TxPropertyViolation):
        # the failed attempt's batches are unreferenced: reap them now
        # rather than waiting for vacuum
        root = path.rstrip("/")
        dirs = {"/".join(f["path"].split("/")[:2]) for f in add}
        for d in sorted(dirs | ({ref} if ref else set())):
            _delete(spark, f"{root}/{d}")
        raise


def _write_dv(spark: SparkSession, path: str, rows: DataFrame) -> tuple[str, dict]:
    """Write the positions of ``rows`` (a :func:`_read_files_with_position`
    frame) as one deletion-vector sidecar batch of (rel, ri) pairs under
    ``_dv/``. Returns (sidecar ref, {file: rows marked}); when nothing
    was marked the empty sidecar is removed and the counts are empty."""
    root = path.rstrip("/")
    ref = f"{_DV}/{uuid.uuid4().hex}"
    rows.select(
        _dv_rel_expr(F.col("_txlog_fp")).alias("rel"),
        F.col("_txlog_ri").alias("ri"),
    ).write.parquet(f"{root}/{ref}")
    counts = {
        r["rel"]: int(r["n"])
        for r in spark.read.parquet(f"{root}/{ref}")
        .groupBy("rel")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        _delete(spark, f"{root}/{ref}")
    return ref, counts


# --------------------------------------------------------------------------
# Write paths.


# Bloom index geometry: m bits / k hashes per (file, column). 1024 bits is
# 256 hex chars in the manifest; with k=4 the false-positive rate stays
# under ~1% up to ~100 distinct values per file and degrades gracefully —
# a false positive only costs opening one extra file, never correctness.
_BLOOM_BITS = 1024
_BLOOM_K = 4
_BLOOM_TYPES = ("LongType", "IntegerType", "ShortType", "ByteType", "StringType")


def _bloom_positions_col(col: str, m: int = _BLOOM_BITS, k: int = _BLOOM_K):
    """JVM-side Column: the k bloom bit positions of a row's value. Built
    on md5-of-"seed:value" so the Python probe (`_bloom_positions_py`)
    reproduces the positions exactly without any JVM round trip."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}:"), F.col(col).cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % m
            ).cast("int")
            for i in range(k)
        ]
    )


def _bloom_positions_py(value, m: int = _BLOOM_BITS, k: int = _BLOOM_K) -> list[int]:
    """Driver-side twin of :func:`_bloom_positions_col` for probe values.
    Integer/string rendering matches Spark's cast-to-string for the
    supported types (int family and strings)."""
    import hashlib

    return [
        int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:15], 16) % m
        for i in range(k)
    ]


def _bloom_hex(bits: list[int], m: int = _BLOOM_BITS) -> str:
    acc = 0
    for b in bits:
        acc |= 1 << b
    return f"{acc:0{m // 4}x}"


def _bloom_might_contain(hexset: str, positions: list[int]) -> bool:
    acc = int(hexset, 16)
    return all((acc >> p) & 1 for p in positions)


def _write_batch(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None,
    stats_for: list[str] | None = None,
    bloom_for: list[str] | None = None,
) -> tuple[str, list[dict]]:
    """Write ``df`` as a fresh batch dir; return (batch id, file entries).

    ``stats_for`` columns get per-FILE min/max recorded in the manifest
    (Delta-style data skipping stats) — gathered in ONE Spark job over the
    written batch grouped by ``input_file_name``, not per-file reads.
    ``bloom_for`` columns additionally get a per-file Bloom bitset for
    EQUALITY skipping (Delta's bloom filter index): the right tool for
    high-cardinality point-lookup keys where min/max covers everything."""
    batch = uuid.uuid4().hex
    batch_dir = f"{path.rstrip('/')}/{_DATA}/{batch}"
    stat_cols = [
        c for c in (stats_for or []) if partition_by is None or c not in partition_by
    ]
    # validate stat column types BEFORE writing — unsupported types would
    # otherwise poison the manifest with uncomparable values
    tags = {c: _stat_tag(df.schema[c].dataType) for c in stat_cols}
    bloom_cols = [
        c for c in (bloom_for or []) if partition_by is None or c not in partition_by
    ]
    for c in bloom_cols:
        tname = type(df.schema[c].dataType).__name__
        if tname not in _BLOOM_TYPES:
            raise TypeError(
                f"bloom_for column {c!r} has type {tname}; only integer and "
                "string columns have a cast-stable probe rendering"
            )
    from .metrics import observe_write

    df, finish = observe_write(df)
    writer = df.write.format("parquet").mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(batch_dir)
    finish(path)
    spark = df.sparkSession
    listed = _list_parquet_files(spark, batch_dir)
    sizes = dict(listed)
    rels = [r for r, _ in listed]
    stats: dict[str, dict] = {}
    if stat_cols and rels:
        aggs = []
        for c in stat_cols:
            aggs += [
                F.min(c).alias(f"min_{c}"),
                F.max(c).alias(f"max_{c}"),
            ]
        rows = (
            spark.read.parquet(batch_dir)
            .groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()
        )
        for r in rows:
            # input_file_name is the qualified URI; match on the rel suffix
            fname = r["_f"]
            rel = next((x for x in rels if fname.endswith(x)), None)
            if rel is None:
                raise RuntimeError(
                    f"stats row for unknown file {fname} in batch {batch}"
                )
            stats[rel] = {
                c: {
                    "t": tags[c],
                    "min": _stat_encode(tags[c], r[f"min_{c}"]),
                    "max": _stat_encode(tags[c], r[f"max_{c}"]),
                }
                for c in stat_cols
            }
        # zero-row files never appear in the groupBy — record explicit
        # all-null stats (sound: no value in an empty file can match a
        # predicate, so the skip test may drop it)
        for rel in rels:
            if rel not in stats:
                stats[rel] = {
                    c: {"t": tags[c], "min": None, "max": None} for c in stat_cols
                }
    blooms: dict[str, dict[str, str]] = {}
    if bloom_cols and rels:
        # one job: explode each row's k positions per column, distinct,
        # collect ≤ m set-bit positions per (file, column) — the driver
        # only ever sees files × columns × m ints, never values
        def _tagged_positions(c: str):
            # single-arg lambda only: a 2-arg transform lambda would be
            # called as (element, index) and shadow the captured name
            return F.when(
                F.col(c).isNotNull(),
                F.transform(
                    _bloom_positions_col(c),
                    lambda p: F.struct(F.lit(c).alias("c"), p.alias("b")),
                ),
            ).otherwise(F.array().cast("array<struct<c:string,b:int>>"))

        structs = [_tagged_positions(c) for c in bloom_cols]
        rows = (
            spark.read.parquet(batch_dir)
            .select(
                F.input_file_name().alias("_f"),
                F.explode(F.flatten(F.array(*structs))).alias("s"),
            )
            .select("_f", F.col("s.c").alias("c"), F.col("s.b").alias("b"))
            .distinct()
            .groupBy("_f", "c")
            .agg(F.collect_set("b").alias("bits"))
            .collect()
        )
        for r in rows:
            rel = next((x for x in rels if r["_f"].endswith(x)), None)
            if rel is None:
                raise RuntimeError(f"bloom row for unknown file {r['_f']}")
            blooms.setdefault(rel, {})[r["c"]] = _bloom_hex(r["bits"])
        # files with only-null (or zero) rows for a column keep NO bloom
        # entry → a missing bitset means "never skip", which stays sound;
        # record an explicit empty bitset instead so equality probes CAN
        # skip all-null files
        for rel in rels:
            for c in bloom_cols:
                blooms.setdefault(rel, {}).setdefault(c, _bloom_hex([]))
    rowcounts = _footer_rows(batch_dir, rels)
    files = [
        {
            "path": f"{_DATA}/{batch}/{rel}",
            "partition": _partition_of(rel),
            "bytes": sizes[rel],
            **({"rows": rowcounts[rel]} if rowcounts is not None else {}),
            **({"stats": stats[rel]} if rel in stats else {}),
            **({"bloom": blooms[rel]} if rel in blooms else {}),
        }
        for rel in rels
    ]
    return batch, files


def _footer_rows(batch_dir: str, rels: list[str]) -> dict[str, int] | None:
    """Per-file row counts from the parquet FOOTERS (metadata-only driver
    reads — no data pages touched; Delta records the same ``numRecords``
    per AddFile). Returns None when the footers are unreachable from the
    driver (non-posix storage without a mounted path) — entries then
    carry no ``rows`` and :func:`tx_count` falls back to scanning."""
    base = batch_dir
    if base.startswith("file:"):
        base = "/" + base[5:].lstrip("/")
    try:
        import pyarrow.parquet as pq

        return {
            rel: pq.ParquetFile(f"{base}/{rel}").metadata.num_rows for rel in rels
        }
    except Exception:
        # degrade to "no counts recorded" rather than failing the commit —
        # tx_count detects the absence and scans instead
        return None


def _stat_tag(dtype) -> str:
    """Type tag governing how a stat column's values are serialized into
    the manifest and how prune-time bounds are coerced back — guarantees
    the skip comparison happens in an ORDER-PRESERVING shared
    representation (a str-serialized decimal would otherwise compare
    lexicographically: '10' < '9' → wrongly skipped file → missing rows).
    Unsupported types fail loudly at WRITE time, not silently at prune."""
    from pyspark.sql import types as T

    if isinstance(
        dtype,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.FloatType, T.DoubleType, T.BooleanType),
    ):
        return "n"
    if isinstance(dtype, T.StringType):
        return "s"
    if isinstance(dtype, T.DecimalType):
        return "dec"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dtype, T.DateType):
        return "date"
    raise ValueError(
        f"stats_for unsupported for type {dtype.simpleString()}: only "
        "numeric/string/decimal/timestamp/date columns have a total order "
        "the manifest can store faithfully"
    )


def _ts_micros(v: _dt.datetime) -> int:
    return int(v.timestamp() * 1_000_000)


def _stat_encode(tag: str, v):
    """JSON-storable, order-preserving encoding of a collected stat value."""
    if v is None:
        return None
    if tag == "n":
        return int(v) if isinstance(v, bool) else v
    if tag == "s":
        return v
    if tag == "dec":
        return str(v)  # exact; compared via Decimal at prune time
    if tag == "ts":
        return _ts_micros(v)
    if tag == "date":
        return v.toordinal()
    raise ValueError(tag)


def _coerce_bound(tag: str, v):
    """Coerce a user-supplied prune bound into the stored representation.
    Raises TypeError on bounds the tag cannot order against (instead of
    the silent lexicographic corruption the untagged format allowed)."""
    if tag == "n":
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, _decimal.Decimal):
            return float(v)
    elif tag == "s":
        if isinstance(v, str):
            return v
    elif tag == "dec":
        if isinstance(v, (int, float, str, _decimal.Decimal)):
            return _decimal.Decimal(str(v))
    elif tag == "ts":
        if isinstance(v, _dt.datetime):
            return _ts_micros(v)
        if isinstance(v, _dt.date):
            # a date means its midnight in the session zone (UTC, pinned
            # by core/session), not in the Python process's own zone
            return _ts_micros(
                _dt.datetime.combine(v, _dt.time.min, _dt.timezone.utc)
            )
    elif tag == "date":
        if isinstance(v, _dt.datetime):
            return v.date().toordinal()
        if isinstance(v, _dt.date):
            return v.toordinal()
    raise TypeError(
        f"prune bound {v!r} ({type(v).__name__}) is not comparable with "
        f"manifest stats of type tag {tag!r}"
    )


def _stat_bounds(entry, user_lo, user_hi):
    """(fmin, fmax, lo, hi) in the shared comparable representation, or
    None if the entry cannot be interpreted (legacy/unknown shape → file
    is kept; skipping must stay sound)."""
    if not isinstance(entry, dict) or "t" not in entry:
        return None
    tag = entry["t"]
    try:
        lo = None if user_lo is None else _coerce_bound(tag, user_lo)
        hi = None if user_hi is None else _coerce_bound(tag, user_hi)
    except TypeError:
        raise
    fmin, fmax = entry.get("min"), entry.get("max")
    if tag == "dec":
        fmin = None if fmin is None else _decimal.Decimal(fmin)
        fmax = None if fmax is None else _decimal.Decimal(fmax)
    return fmin, fmax, lo, hi


def _merge_table_schema(
    old_json: str, new_json: str, allow_new: bool, op: str
) -> str:
    """Schema enforcement at the commit boundary (Delta's write-time schema
    check): a type change on an existing column always raises; NEW columns
    raise unless ``allow_new`` (mergeSchema), in which case they append to
    the table schema. A write may OMIT existing columns freely — every
    txlog column is nullable and the read path null-pads old files
    (unionByName semantics), matching Delta's nullable-subset rule. The
    returned schema is the MERGE (old field order + genuinely new fields),
    never the writer's frame schema verbatim — a narrow append must not
    narrow the TABLE schema out from under streaming readers and
    empty-snapshot reads. Only field types are compared (nullable/metadata
    differences are not drift)."""
    old, new = json.loads(old_json), json.loads(new_json)
    old_by = {f["name"]: f for f in old["fields"]}
    tkey = lambda f: json.dumps(f["type"], sort_keys=True)  # noqa: E731
    changed = [
        f["name"]
        for f in new["fields"]
        if f["name"] in old_by and tkey(f) != tkey(old_by[f["name"]])
    ]
    if changed:
        raise TxSchemaMismatch(
            f"{op}: column type change for {changed} — txlog never evolves "
            "types in place (rewrite via overwrite, which replaces the schema)"
        )
    added = [f for f in new["fields"] if f["name"] not in old_by]
    if added and not allow_new:
        raise TxSchemaMismatch(
            f"{op}: new column(s) {[f['name'] for f in added]} not in the "
            "table schema; pass schema_evolution=True to add them "
            "(Delta mergeSchema)"
        )
    if not added:
        return old_json
    return json.dumps({**old, "fields": old["fields"] + added})


def tx_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    stats_for: list[str] | None = None,
    bloom_for: list[str] | None = None,
    checks: dict[str, str] | None = None,
    schema_evolution: bool = False,
    txn: tuple[str, int] | None = None,
    copy_files: list[str] | None = None,
    require_version: int | None = None,
    _identity_retries: int = 24,
) -> int:
    """Commit a new version. ``mode``:

    - ``overwrite``: snapshot replace (also the compaction op);
    - ``append``: prior files + new files;
    - ``overwrite_dynamic``: replace only the partitions present in ``df``
      (K1 dynamic partition overwrite) — untouched partitions' files are
      carried forward by reference, no rewrite.

    ``stats_for``: columns to record per-file min/max for in the manifest —
    enables file-level data skipping on ``tx_read(where=...)`` beyond
    partition pruning (Delta-style stats). ``bloom_for``: columns to record
    a per-file Bloom bitset for — enables EQUALITY skipping on
    ``tx_read(where_equals=...)`` for high-cardinality keys whose min/max
    span everything (Delta's bloom filter index). ``checks``: named CHECK
    constraints (name → boolean SQL expr) enforced BEFORE any data lands —
    a violating batch raises :class:`TxCheckViolation` with per-constraint
    violation counts and commits nothing (Delta's table CHECK constraints;
    a row where the expr is NULL counts as violating, like SQL CHECK with
    Delta's null-rejecting enforcement).

    Schema enforcement (Delta's write-time check): ``append`` and
    ``overwrite_dynamic`` validate the frame against the table schema
    inside the commit attempt — type changes raise
    :class:`TxSchemaMismatch`, new columns require
    ``schema_evolution=True`` (mergeSchema) and extend the table schema,
    omitted columns are fine (nullable, null-padded on read). A full
    ``overwrite`` replaces the schema outright (Delta's
    ``overwriteSchema`` is implied by the truncate semantics).

    ``txn=(app_id, version)`` makes the commit IDEMPOTENT (Delta's
    ``txnAppId``/``txnVersion`` SetTransaction twin): the log tracks the
    per-app high-water mark, and a write whose version is at or below it
    is a NO-OP that commits nothing — so a restarted streaming sink can
    replay a micro-batch as a PLAIN APPEND without duplicating rows, no
    keyed merge needed. Versions must be monotonically increasing per app
    (a streaming sink passes its batch id). The mark survives
    checkpointing and vacuum; shallow clones do NOT inherit it (clone is
    a new table — same caveat Delta documents for cloned streaming sinks).

    ``require_version=N`` makes the commit CONDITIONAL on the table still
    being at version N when it lands (optimistic CAS against a snapshot
    the caller read): a concurrent commit in between raises
    :class:`TxConflictError` and nothing lands — the read-modify-write
    guard that keeps a snapshot-derived overwrite (row-tracking backfill,
    compaction of a specific snapshot) from silently discarding a racing
    writer's rows.
    """
    if mode not in ("overwrite", "append", "overwrite_dynamic"):
        raise ValueError(mode)
    df_in, stats_for_in = df, stats_for  # for identity-conflict rewrites
    parts_in = partition_by  # pre-default, for identity-conflict rewrites
    _curv = current_version(spark, path)
    pre_manifest = (
        read_manifest(spark, path, _curv) if _curv is not None else None
    )
    # partitioning is TABLE metadata (Delta's partitionColumns): on
    # append/dynamic, None INHERITS the recorded layout and an explicit
    # spec must MATCH it (files written under a different layout would
    # escape dynamic-overwrite remove sets and partition pruning). A
    # full overwrite REDEFINES the layout from its arguments (Delta's
    # replace semantics — OPTIMIZE/compaction, which must preserve the
    # layout, resolves it explicitly in tx_compact before calling here).
    recorded_parts = _partition_default(pre_manifest, None)
    if (
        partition_by is not None
        and mode != "overwrite"
        and recorded_parts
        and list(partition_by) != recorded_parts
    ):
        raise ValueError(
            f"tx_write({mode}) at {path}: partition_by {list(partition_by)} "
            f"does not match the table's partition columns "
            f"{recorded_parts} — partitioning is table metadata; "
            "overwrite the table to change it"
        )
    if partition_by is not None:
        partition_by = list(partition_by) or None
    elif mode != "overwrite":
        partition_by = recorded_parts
    if mode == "overwrite_dynamic" and not partition_by:
        raise ValueError("overwrite_dynamic requires partition_by")
    if txn is not None:
        app, txv = txn
        if not isinstance(app, str) or not app:
            raise ValueError("txn app id must be a non-empty string")
        txv = int(txv)
        # cheap pre-check: an already-applied replay skips the batch write
        if (
            pre_manifest is not None
            and pre_manifest.get("txns", {}).get(app, -1) >= txv
        ):
            return _curv
    # stored CHECK constraints (tx_add_constraint / Delta ALTER TABLE ADD
    # CONSTRAINT) enforce on EVERY write incl. full overwrites; call-site
    # checks compose on top. Generated columns (tx_add_generated_column)
    # COMPUTE when omitted; when supplied they validate like a constraint.
    # Column DEFAULTS fill omitted columns FIRST (generated exprs may
    # reference them); identity allocation runs next so generated exprs
    # and checks can reference the ids.
    props0 = pre_manifest.get("properties", {}) if pre_manifest is not None else {}
    stats_for, bloom_for = _skipping_defaults(props0, stats_for, bloom_for)
    # record the layout as a carried-forward property: an overwrite
    # (re)defines it; append/dynamic heal tables created before the
    # property existed (file-derived layout becomes durable metadata, so
    # it survives a later TRUNCATE's zero-file state)
    _new_parts_val = ",".join(partition_by or [])
    part_rec = (
        _new_parts_val
        if _new_parts_val != str(props0.get(_PARTCOLS_PROP, ""))
        else None
    )
    defaults0 = _column_defaults(props0)
    if defaults0:
        from pyspark.sql.types import StructType

        tbl_fields = {
            f.name: f.dataType
            for f in StructType.fromJson(
                json.loads(pre_manifest["schema"])
            ).fields
        }
        for c, e in defaults0.items():
            if c not in df.columns:
                # cast to the TABLE column's type — the default literal's
                # parsed type (e.g. INT for "2") must not drift the schema
                df = df.withColumn(c, F.expr(e).cast(tbl_fields[c]))
    idents = _identity_cols(props0)
    base_marks: dict[str, int] = {}
    alloc_cols: list[str] = []
    if idents:
        # identity columns ride stats_for so the post-write watermark
        # advance is read from recorded file stats — no extra jobs
        stats_for = sorted(set(stats_for or []) | set(idents))
        marks0 = pre_manifest.get("identity", {}) if pre_manifest else {}
        for c, decl in idents.items():
            step = int(decl.get("step", 1))
            base_marks[c] = int(
                marks0.get(c, int(decl.get("start", 1)) - step)
            )
            if c not in df.columns:
                df, _new_mark, _ = _allocate_identity(
                    df, c, base_marks[c], step
                )
                alloc_cols.append(c)
    gens = _generated_cols(props0)
    supplied = [c for c in gens if c in df.columns]
    for c, e in gens.items():
        if c not in df.columns:
            df = df.withColumn(c, F.expr(e))
    all_checks = dict(_stored_checks(props0))
    all_checks.update(_generated_checks(props0, only=supplied))
    all_checks.update(checks or {})
    if all_checks:
        _enforce_checks(df, all_checks)

    schema_json = df.schema.json()  # the LOGICAL schema of this write
    # Column mapping: appends to a mapped table write PHYSICAL names.
    # Physical names are immutable once assigned, so reading the mapping
    # before the batch write cannot go stale (a concurrent rename changes
    # only logical names); brand-new columns get fresh physical ids HERE
    # so a re-added logical name never collides with a dropped column's
    # dormant data.
    mapping: dict[str, str] = {}
    pre_schema: str | None = None
    if mode != "overwrite" and pre_manifest is not None:
        pre_schema = pre_manifest["schema"]
        mapping = _schema_mapping(pre_schema)
    new_col_phys: dict[str, str] = {}
    if _mapping_active(pre_schema):
        for fld in json.loads(schema_json)["fields"]:
            if fld["name"] not in mapping:
                new_col_phys[fld["name"]] = _fresh_physical()
        write_map = {**mapping, **new_col_phys}
        df_w = _to_physical(df, write_map)
        w_partition_by = _map_names(partition_by, write_map)
        w_stats, w_bloom = (
            _map_names(stats_for, write_map),
            _map_names(bloom_for, write_map),
        )
        _phys_map = write_map
    else:
        df_w, w_partition_by, w_stats, w_bloom = (
            df, partition_by, stats_for, bloom_for,
        )
        _phys_map = {}

    _, new_files = _write_batch(df_w, path, w_partition_by, w_stats, w_bloom)
    touched = {tuple(sorted(f["partition"].items())) for f in new_files}

    def build(cur: int | None) -> dict:
        # re-invoked per commit attempt with the version current AT THAT
        # MOMENT — a lost claim recomputes the remove set against the
        # concurrent winner's snapshot instead of retrying a stale one
        # (the lost-update the old bump-and-retry had). An append touches
        # NO prior state at all (a blind-append delta, Delta's cheap path);
        # a dynamic overwrite removes exactly the touched partitions' files.
        if require_version is not None and cur != require_version:
            raise TxConflictError(
                f"tx_write({mode}) at {path}: table advanced to "
                f"v{cur} while this write required v{require_version} — "
                "a concurrent commit would be discarded; re-read and retry"
            )
        remove: list[str] = []
        schema_out = schema_json
        snap: dict | None = None
        if cur is not None and mode != "overwrite":
            # appends/dynamic overwrites resolve the current snapshot per
            # attempt: the schema check must run against the schema that is
            # current AT COMMIT TIME (a concurrent winner may have evolved
            # it) — Delta pays the same snapshot resolution on every
            # commit; the checkpointed log bounds it to <=11 log reads
            snap = read_manifest(spark, path, cur)
            if new_col_phys and snap["schema"] != pre_schema:
                # the batch was written under physical ids assigned against
                # pre_schema; a concurrent schema change may have assigned
                # the same logical name a DIFFERENT physical — refuse
                # rather than commit files under the wrong identity
                raise TxConflictError(
                    f"tx_write({mode}) at {path}: concurrent schema change "
                    f"while adding mapped columns — retry the write"
                )
            if snap["schema"]:
                schema_out = _merge_table_schema(
                    snap["schema"], schema_json, schema_evolution,
                    f"tx_write({mode})",
                )
                if new_col_phys:
                    d = json.loads(schema_out)
                    d["fields"] = [
                        {
                            **f,
                            "metadata": {
                                **(f.get("metadata") or {}),
                                "txlog_physical": new_col_phys[f["name"]],
                            },
                        }
                        if f["name"] in new_col_phys
                        else f
                        for f in d["fields"]
                    ]
                    schema_out = json.dumps(d)
            if mode == "overwrite_dynamic":
                remove = [
                    f["path"]
                    for f in snap["files"]
                    if tuple(sorted(f["partition"].items())) in touched
                ]
        if txn is not None and cur is not None:
            # re-checked per attempt AT COMMIT TIME: two racing replays of
            # the same batch cannot both land (the loser sees the winner's
            # mark when it rebuilds against the new snapshot)
            if snap is None:
                snap = read_manifest(spark, path, cur)
            if snap.get("txns", {}).get(app, -1) >= txv:
                raise _TxAlreadyApplied()
        if copy_files and cur is not None:
            # COPY INTO's file-identity ledger, re-checked per CAS attempt:
            # two racing ingests of the same drop cannot both land. A full
            # overlap is the idempotent replay (no-op); a PARTIAL overlap
            # means a concurrent ingest landed some of this batch's files —
            # the batch was computed from a stale listing and must be
            # rebuilt from a fresh one, so refuse loudly.
            if snap is None:
                snap = read_manifest(spark, path, cur)
            led = set(snap.get("copy_files", []))
            hit = [f for f in copy_files if f in led]
            if len(hit) == len(copy_files):
                raise _TxAlreadyApplied()
            if hit:
                raise TxConflictError(
                    f"tx_write at {path}: a concurrent COPY INTO already "
                    f"ingested {len(hit)} of this batch's {len(copy_files)} "
                    "source files — rerun the COPY to skip them"
                )
        rec = {
            "op": mode,
            "schema": schema_out,
            "add": new_files,
            "remove": remove,
            "truncate": mode == "overwrite",
        }
        if part_rec is not None:
            rec["properties"] = {_PARTCOLS_PROP: part_rec}
        if idents and cur is not None:
            # re-validated per CAS attempt: if a concurrent commit advanced
            # a mark this write ALLOCATED from, the written ids may collide
            # with the winner's — the batch must be rewritten, not merely
            # the commit retried (Delta aborts the txn the same way)
            if snap is None:
                snap = read_manifest(spark, path, cur)
            now_marks = snap.get("identity", {})
            for c in alloc_cols:
                if int(now_marks.get(c, base_marks[c])) != base_marks[c]:
                    raise _IdentityMoved()
            rec["identity"] = _identity_marks_from_stats(
                idents, new_files, _phys_map,
                {c: int(v) for c, v in now_marks.items()},
            )
        elif idents:
            rec["identity"] = _identity_marks_from_stats(
                idents, new_files, _phys_map, dict(base_marks)
            )
        if txn is not None:
            rec["txn"] = {"app": app, "version": txv}
            rec["protocol"] = _protocol_with(
                (snap or {}).get("protocol"),
                writer=(FEATURE_IDEMPOTENT_TXN,),
            )
        if copy_files:
            rec["copy_files"] = sorted(copy_files)
            # writer-gated: an older writer's checkpoint would silently
            # drop the ledger and re-open re-ingestion
            rec["protocol"] = _protocol_with(
                rec.get("protocol") or (snap or {}).get("protocol"),
                writer=(FEATURE_COPY_LEDGER,),
            )
        return rec

    def _reap_batch():
        root = path.rstrip("/")
        for f in new_files:  # this batch never became referenced
            _delete(spark, f"{root}/{f['path']}")

    try:
        return _commit(spark, path, build)
    except _TxAlreadyApplied:
        _reap_batch()
        return current_version(spark, path)
    except _IdentityMoved:
        _reap_batch()
        if _identity_retries <= 0:
            raise TxConflictError(
                f"tx_write({mode}) at {path}: identity watermark kept "
                "moving under concurrent writers — giving up"
            )
        # jittered EXPONENTIAL backoff (full-jitter, ceiling-bounded)
        # de-synchronizes racing allocators: under N-writer contention each
        # retry doubles the window a loser re-enters in, so the expected
        # number of simultaneous re-attempts halves per round — the linear
        # backoff this replaces starved 8 of 24 retries under a mere
        # 4-thread race. The 2s ceiling bounds worst-case commit latency.
        import random as _random

        attempt = 24 - _identity_retries  # 0-based retry count so far
        time.sleep(_random.uniform(0.0, min(2.0, 0.02 * (2 ** attempt))))
        return tx_write(
            spark, df_in, path, partition_by=parts_in, mode=mode,
            stats_for=stats_for_in, bloom_for=bloom_for, checks=checks,
            schema_evolution=schema_evolution, txn=txn,
            copy_files=copy_files,
            require_version=require_version,
            _identity_retries=_identity_retries - 1,
        )


def tx_copy_into(
    spark: SparkSession,
    path: str,
    source: str,
    file_format: str,
    *,
    pattern: str | None = None,
    format_options: dict | None = None,
    force: bool = False,
) -> int:
    """Idempotent bulk-file ingestion — Delta's ``COPY INTO``: each
    source file lands EXACTLY ONCE across reruns. The raw→stage bridge
    the reference hand-rolls with its extractor
    (`utils/extract_data/load_with_query_python.py:288-294` drops gzip
    CSVs into the raw layer; the stage loader must not double-load a
    drop that was already picked up).

    File identity is the ABSOLUTE PATH (Delta's rule: an already-loaded
    path is skipped even if rewritten — pass ``force=True`` to reload).
    The ledger of ingested identities rides the SAME atomic commit as
    the appended rows (``tx_write(copy_files=…)``), so a failed ingest
    leaves the ledger untouched and the rerun re-ingests exactly the
    missing files — partial failure can never drop or double a file.
    The ledger accumulates through :func:`read_manifest` and survives
    log truncation via checkpoints (writer-feature-gated so an older
    writer cannot silently drop it).

    Listing is driver-side metadata (like Delta's), the data read is a
    distributed ``spark.read`` over exactly the new files; incoming
    columns are matched BY NAME to the table schema and cast to its
    types (CSV strings become the declared types), unknown columns
    refuse loudly, missing columns fall to the enforcing writer
    (NULL / DEFAULT / IDENTITY / GENERATED fills)."""
    import fnmatch
    import os

    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(
            f"COPY INTO target {path} has no committed txlog version — "
            "create the table first (COPY INTO never creates schemas)"
        )
    fmt = file_format.strip().lower()
    if fmt not in ("parquet", "csv", "json"):
        raise ValueError(
            f"COPY INTO: unsupported FILEFORMAT {file_format!r} "
            "(supported: PARQUET, CSV, JSON)"
        )
    src = os.path.abspath(source)
    if os.path.isfile(src):
        candidates = [src]
    elif os.path.isdir(src):
        candidates = []
        for root, dirs, names in os.walk(src):
            # skip hidden/metadata subtrees (Spark's listing convention)
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for n in sorted(names):
                if n.startswith((".", "_")):
                    continue
                full = os.path.join(root, n)
                rel = os.path.relpath(full, src)
                if pattern is None or fnmatch.fnmatch(rel, pattern):
                    candidates.append(full)
    else:
        raise FileNotFoundError(f"COPY INTO: source {source!r} not found")
    snap = read_manifest(spark, path, cur)
    ledger = set(snap.get("copy_files", []))
    ingest = candidates if force else [f for f in candidates if f not in ledger]
    if not ingest:
        return cur  # every file already ingested — idempotent no-op
    from pyspark.sql.types import StructType

    reader = spark.read.options(**(format_options or {}))
    # parquet() takes *paths varargs; csv()/json() take a list (their
    # later positional parameters are options, so never unpack them)
    df = reader.parquet(*ingest) if fmt == "parquet" else getattr(reader, fmt)(ingest)
    fields = StructType.fromJson(json.loads(snap["schema"])).fields
    types = {f.name: f.dataType for f in fields}
    unknown = [c for c in df.columns if c not in types]
    if unknown:
        raise TxSchemaMismatch(
            f"COPY INTO {path}: source carries column(s) {unknown} the "
            f"table does not have (table: {sorted(types)}); COPY INTO "
            "never evolves the schema"
        )
    aligned = df.select(
        *(F.col(f"`{c}`").cast(types[c]).alias(c) for c in df.columns)
    )
    new_marks = [f for f in ingest if f not in ledger]
    return tx_write(
        spark,
        aligned,
        path,
        mode="append",
        partition_by=table_partition_columns(snap) or None,
        copy_files=new_marks or None,
    )


def _file_overlaps(f: dict, where: dict) -> bool:
    """File-skip test: keep the file unless its recorded [min, max] for
    some predicate column provably misses [lo, hi]. Files without stats
    for a column (or with stats in a shape this version cannot interpret)
    are always kept — skipping is sound, never lossy. Bounds whose type
    cannot be ordered against the stored tag raise TypeError."""
    stats = f.get("stats") or {}
    for col, (ulo, uhi) in where.items():
        if col not in stats:
            continue
        decoded = _stat_bounds(stats[col], ulo, uhi)
        if decoded is None:
            continue
        fmin, fmax, lo, hi = decoded
        if fmin is None and fmax is None:  # all-null file: no value matches
            return False
        if lo is not None and fmax is not None and fmax < lo:
            return False
        if hi is not None and fmin is not None and fmin > hi:
            return False
    return True


def _hive_dec(seg: str):
    """Decode one hive ``k=v`` partition VALUE (inverse of
    :func:`_hive_enc`); None for the default (null) partition."""
    if seg == "__HIVE_DEFAULT_PARTITION__":
        return None
    out, i = [], 0
    while i < len(seg):
        ch = seg[i]
        if ch == "%" and i + 3 <= len(seg):
            try:
                out.append(chr(int(seg[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(ch)
        i += 1
    return "".join(out)


def _typed_partition_value(raw: str, type_json):
    """A hive partition value decoded to the column's declared type for
    ordered comparison against a pruning bound — or None when the type
    has no safe conversion (the file is then kept; pruning stays sound)."""
    import datetime as _dt

    if not isinstance(type_json, str):
        return None
    if type_json in ("long", "integer", "short", "byte"):
        return int(raw)
    if type_json in ("double", "float"):
        return float(raw)
    if type_json == "string":
        return raw
    if type_json == "date":
        return _dt.date.fromisoformat(raw)
    return None


def _partition_bound(val, bound):
    """``bound`` in the terms of the decoded partition value ``val``: a
    decimal bound (SQL reads ``0.1`` as DECIMAL) against a float/double
    partition compares as the double Spark casts it to — an exact
    Decimal compare would find ``0.1 > Decimal('0.1')`` and prune the
    partition that matches."""
    if isinstance(val, float) and isinstance(bound, _decimal.Decimal):
        return float(bound)
    return bound


def _partition_rejects(
    f: dict, where: dict | None, where_equals: dict | None,
    part_types: dict | None,
) -> bool:
    """Partition-value skip test (the DML/read twin of the SQL
    pushdown's): True when the file's hive partition values PROVABLY
    miss a range or equality probe. Undecodable values keep the file —
    sound, never lossy."""
    part = f.get("partition") or {}
    if not part or not part_types:
        return False
    for col, (lo, hi) in (where or {}).items():
        pv = part.get(col)
        if pv is None:
            continue
        raw = _hive_dec(pv)
        if raw is None:  # null partition: no value matches any bound
            if lo is not None or hi is not None:
                return True
            continue
        try:
            val = _typed_partition_value(raw, part_types.get(col))
        except (ValueError, TypeError):
            continue
        if val is None:
            continue
        lo, hi = _partition_bound(val, lo), _partition_bound(val, hi)
        try:
            if lo is not None and val < lo:
                return True
            if hi is not None and val > hi:
                return True
        except TypeError:
            continue
    for col, want in (where_equals or {}).items():
        pv = part.get(col)
        if pv is None:
            continue
        raw = _hive_dec(pv)
        if raw is None:
            return True  # probes are non-null by contract
        try:
            val = _typed_partition_value(raw, part_types.get(col))
        except (ValueError, TypeError):
            continue
        if val is None:
            continue
        want = _partition_bound(val, want)
        # a probe whose Python TYPE differs from the decoded value
        # (string literal against a date/double column — SQL would cast
        # and match) must KEEP the file: `!=` never raises across types,
        # so an unguarded compare would silently prune matching rows
        same_family = type(val) is type(want) or (
            isinstance(val, (int, float)) and isinstance(want, (int, float))
            and not isinstance(val, bool) and not isinstance(want, bool)
        )
        if same_family and val != want:
            return True
    return False


def _partition_types(schema_json: str | None) -> dict:
    """{PHYSICAL column name: type json} for partition-value decoding
    (files record partition dirs under physical names)."""
    if not schema_json:
        return {}
    out = {}
    for f in json.loads(schema_json)["fields"]:
        phys = (f.get("metadata") or {}).get("txlog_physical", f["name"])
        out[phys] = f["type"]
    return out


# Monotone generated-column shapes (Delta's generated-column partition
# filters): for these, base-column bounds [lo, hi] imply generated-column
# bounds [f(lo), f(hi)], so a WHERE on the base column can prune a table
# partitioned by the GENERATED column (SURVEY §4a by name).
_GEN_DF = re.compile(
    r"^\s*date_format\s*\(\s*`?(\w+)`?\s*,\s*'([^']+)'\s*\)\s*$",
    re.IGNORECASE,
)
_GEN_YEAR = re.compile(r"^\s*year\s*\(\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE)
_GEN_TODATE = re.compile(
    r"^\s*(?:to_date|date)\s*\(\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE
)
_GEN_CASTDATE = re.compile(
    r"^\s*cast\s*\(\s*`?(\w+)`?\s+as\s+date\s*\)\s*$", re.IGNORECASE
)
# the reference's period convention (`plans/common.period_yyyymm`):
# (year·100 + month) [:: string] — monotone, byte-identical to
# date_format(x,'yyyyMM') for 4-digit years. Two regexes, bare and
# cast-wrapped, so the guard keys off the actual wrapper — never a
# 'cast' SUBSTRING (a base column named forecast_date must still derive)
_GEN_YM_BODY = (
    r"year\s*\(\s*`?(\w+)`?\s*\)\s*\*\s*100\s*\+\s*month\s*\(\s*`?\1`?\s*\)"
)
_GEN_YM_BARE = re.compile(rf"^\s*{_GEN_YM_BODY}\s*$", re.IGNORECASE)
_GEN_YM_CAST = re.compile(
    rf"^\s*cast\s*\(\s*{_GEN_YM_BODY}\s+as\s+"
    r"(string|int|integer|long|bigint)\s*\)\s*$",
    re.IGNORECASE,
)
# formats whose OUTPUT ordering follows the input ordering (zero-padded,
# most-significant-first) — 'MM' alone or 'dd-MM-yyyy' are NOT monotone
_MONOTONE_FMTS = {
    "yyyyMM": "%Y%m",
    "yyyy-MM": "%Y-%m",
    "yyyyMMdd": "%Y%m%d",
    "yyyy-MM-dd": "%Y-%m-%d",
}


def _gen_monotone(expr: str):
    """(base column, value map fn) for a monotone generated expression,
    or None when the shape is not provably monotone."""
    import datetime as _dt

    def as_dt(v):
        if isinstance(v, _dt.datetime):
            return v
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day)
        if isinstance(v, str):
            try:
                return _dt.datetime.fromisoformat(v.strip())
            except ValueError:
                return None
        return None

    m = _GEN_DF.match(expr)
    if m and m.group(2) in _MONOTONE_FMTS:
        fmt = _MONOTONE_FMTS[m.group(2)]

        def f(v, _fmt=fmt):
            d = as_dt(v)
            return d.strftime(_fmt) if d is not None else None

        return m.group(1), f
    m = _GEN_YEAR.match(expr)
    if m:
        def f(v):
            d = as_dt(v)
            return d.year if d is not None else None

        return m.group(1), f
    m = _GEN_TODATE.match(expr) or _GEN_CASTDATE.match(expr)
    if m:
        def f(v):
            d = as_dt(v)
            return d.date() if d is not None else None

        return m.group(1), f
    m = _GEN_YM_BARE.match(expr)
    cast_t = None
    if m is None:
        m = _GEN_YM_CAST.match(expr)
        cast_t = m.group(2) if m else None
    if m:
        as_str = (cast_t or "").lower() == "string"

        def f(v, _s=as_str):
            d = as_dt(v)
            if d is None:
                return None
            ym = d.year * 100 + d.month
            return str(ym) if _s else ym

        return m.group(1), f
    return None


def _derive_generated_hints(
    manifest: dict, where: dict | None, where_equals: dict | None
) -> dict:
    """Additional [lo, hi] pruning hints for GENERATED columns implied
    by hints on their base columns — Delta's generated-column partition
    filter. Returns an AUGMENTED copy of ``where`` (logical names); the
    derived hints are for FILE SKIPPING only (they are implied by the
    base predicate, so they never change row-level results). Only
    provably monotone generator shapes derive; anything else is left
    alone — pruning must stay sound."""
    gens = _generated_cols(manifest.get("properties", {}))
    if not gens:
        return dict(where or {})
    # declared types of the generated columns: derived values COERCE to
    # them so the downstream stat/partition comparisons are same-typed
    # (an uncoercible mismatch drops the hint — a crash or a mistyped
    # compare must never reach the skip test)
    gtypes: dict[str, str] = {}
    if manifest.get("schema"):
        gtypes = {
            f["name"]: f["type"]
            for f in json.loads(manifest["schema"])["fields"]
            if isinstance(f["type"], str)
        }

    def coerce(v, tj):
        import datetime as _dt

        if tj is None:
            return v  # no schema record (unit-test manifests): as-is
        try:
            if tj == "string":
                return str(v)
            if tj in ("long", "integer", "short", "byte"):
                if isinstance(v, bool):
                    return None
                if isinstance(v, int):
                    return v
                return int(v) if isinstance(v, str) and v.isdigit() else None
            if tj in ("double", "float"):
                return (
                    float(v)
                    if isinstance(v, (int, float)) and not isinstance(v, bool)
                    else None
                )
            if tj == "date":
                return v if isinstance(v, _dt.date) else None
        except (ValueError, TypeError):
            return None
        return None  # unknown declared type: no safe comparison

    out = dict(where or {})
    for gcol, expr in gens.items():
        if gcol in out or (where_equals and gcol in where_equals):
            continue  # an explicit hint on the generated column wins
        parsed = _gen_monotone(expr)
        if parsed is None:
            continue
        base, fn = parsed
        tj = gtypes.get(gcol) if gtypes else None

        def derive(v, _fn=fn, _tj=tj):
            y = _fn(v)
            return None if y is None else coerce(y, _tj)

        lo = hi = None
        if where_equals and base in where_equals:
            v = derive(where_equals[base])
            if v is None:
                continue
            lo = hi = v
        elif where and base in where:
            blo, bhi = where[base]
            lo = derive(blo) if blo is not None else None
            hi = derive(bhi) if bhi is not None else None
            if lo is None and hi is None:
                continue
        else:
            continue
        out[gcol] = (lo, hi)
    return out


def _bloom_rejects(f: dict, where_equals: dict) -> bool:
    """Equality-skip test: True when some probe value's bloom bits are not
    all set in the file's bitset (the value provably is not in the file).
    Files without a bitset for a column are always kept — sound."""
    bloom = f.get("bloom") or {}
    for col, val in where_equals.items():
        hexset = bloom.get(col)
        if hexset is None:
            continue
        if not _bloom_might_contain(hexset, _bloom_positions_py(val)):
            return True
    return False


_INT_TYPES = ("LongType", "IntegerType", "ShortType", "ByteType")


def _bloomable_probes(schema_json: str, where_equals: dict) -> dict:
    """Validate ``where_equals`` probe values against the table schema and
    return the subset allowed to consult Bloom bitsets.

    The bitsets were built from Spark's cast-to-string rendering of the
    column; a probe whose Python ``str()`` differs (``1.0`` or ``True``
    against a long column, an ``int`` against a string column) hashes
    differently, so the skip test would UNSOUNDLY drop files that do
    contain matching rows — ``tx_read`` silently missing rows and
    ``tx_delete``/``tx_update`` (the GDPR path) silently leaving rows
    behind. Mirrors the ``bloom_for`` type check at write time: int-family
    columns require a Python int (bool rejected — Spark renders ``true``,
    Python ``True``), string columns require ``str``. Columns of any other
    type never get a bitset written, so they are excluded from skipping
    (the row-level filter still applies)."""
    from pyspark.sql.types import StructType

    by_name = {
        f.name: type(f.dataType).__name__
        for f in StructType.fromJson(json.loads(schema_json)).fields
    }
    allowed = {}
    for col, val in where_equals.items():
        t = by_name.get(col)
        if t is None:
            continue  # not in current schema — no bitset consulted
        if t in _INT_TYPES:
            if not isinstance(val, int) or isinstance(val, bool):
                raise TypeError(
                    f"where_equals probe for {col!r} ({t}) must be a Python "
                    f"int, got {type(val).__name__} {val!r}: a mismatched "
                    "rendering would hash differently and unsoundly skip files"
                )
            allowed[col] = val
        elif t == "StringType":
            if not isinstance(val, str):
                raise TypeError(
                    f"where_equals probe for {col!r} (StringType) must be a "
                    f"str, got {type(val).__name__} {val!r}"
                )
            allowed[col] = val
    return allowed


def _file_pruner(manifest: dict, where: dict | None, where_equals: dict | None):
    """``can_match(file)`` for a LOGICAL ``where`` / ``where_equals`` spec
    over ``manifest``'s files: the one file-skip test of ``tx_read``, the
    DML rewrites and their conflict checks, and the Python Data Source's
    pushed filters. It prunes on range stats (plus the generated-column
    bounds the spec implies), on bloom bitsets (a probe typed unlike its
    column raises TypeError) and on hive partition values, with every
    name mapped to the PHYSICAL one that stats, bitsets and partition
    dirs are recorded under. A bound that cannot be ordered against a
    stat tag raises TypeError from ``can_match``."""
    schema = manifest["schema"]
    mapping = _schema_mapping(schema)
    where = _map_keys(_derive_generated_hints(manifest, where, where_equals), mapping)
    probes = (
        _map_keys(_bloomable_probes(schema, where_equals), mapping)
        if where_equals
        else None
    )
    equals = _map_keys(where_equals, mapping) if where_equals else None
    part_types = _partition_types(schema)

    def can_match(f: dict) -> bool:
        return not (
            (where and not _file_overlaps(f, where))
            or (probes and _bloom_rejects(f, probes))
            or (part_types and _partition_rejects(f, where, equals, part_types))
        )

    return can_match


def _resolve_file(root: str, fpath: str) -> tuple[str, str]:
    """(full path, batch dir) for a manifest file entry. Entries are
    normally RELATIVE (``data/<batch>/...``); shallow clones reference the
    source's files ABSOLUTELY — the batch dir (the basePath that recovers
    partition columns) is the prefix through ``data/<batch>`` either way."""
    # a URI scheme may qualify with ONE slash (Hadoop's file:/tmp/...), so
    # detect "scheme:" in the first path segment, not just "://"
    absolute = fpath.startswith("/") or ":" in fpath.split("/", 1)[0]
    full = fpath if absolute else f"{root}/{fpath}"
    parts = full.split("/")
    for i in range(len(parts) - 1, -1, -1):
        if parts[i] == _DATA and i + 1 < len(parts):
            return full, "/".join(parts[: i + 2])
    # CONVERTed tables (tx_convert) reference pre-existing files outside
    # data/<batch>: the basePath must stop BEFORE the first hive k=v dir
    # so Spark reconstructs the partition columns from the path
    for i, seg in enumerate(parts[:-1]):
        if "=" in seg and not seg.startswith("="):
            return full, "/".join(parts[:i])
    return full, "/".join(parts[:-1])


def tx_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: dict[str, tuple] | None = None,
    where_equals: dict | None = None,
    timestamp=None,
) -> DataFrame:
    """The snapshot at ``version`` (default: latest). Reads exactly the
    manifest's files, grouped per batch dir so partition columns are
    recovered from the paths; batches union by name.

    ``timestamp`` (exclusive with ``version``): Delta's ``TIMESTAMP AS
    OF`` — epoch seconds or ISO-8601 string, resolved to the newest
    version committed at-or-before it (:func:`version_at_timestamp`).

    ``where`` maps column → (lo, hi) range (either bound None for
    open-ended): files whose manifest stats provably miss the range are
    SKIPPED (never opened), and the row-level filter is applied on top, so
    the result equals filtering the full snapshot. ``where_equals`` maps
    column → value (non-null): files whose Bloom bitset (written via
    ``tx_write(bloom_for=...)``) provably lacks the value are skipped the
    same way — the point-lookup path for keys whose min/max stats span
    every file."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(spark, path, timestamp)
    listing = _log_listing(spark, path)
    cur = version if version is not None else (listing[0][-1] if listing[0] else None)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    if where_equals is not None and any(v is None for v in where_equals.values()):
        raise ValueError("where_equals probes must be non-null; use `where`")
    manifest = read_manifest(spark, path, cur, _listing=listing)
    # the row-level filters below stay on the ORIGINAL predicate columns
    can_match = _file_pruner(manifest, where, where_equals)
    kept = [f for f in manifest["files"] if can_match(f)]
    out = _read_files(spark, path, kept, manifest["schema"])
    mapping = _schema_mapping(manifest["schema"])
    # project onto the schema whenever the files carry anything else:
    # renamed physicals (mapping), dormant dropped columns (the files
    # keep a dropped column's data; the snapshot must not serve it), OR
    # type drift (partition columns recover from hive paths as strings
    # under the pinned inference=false conf and must cast to the
    # declared type)
    # Under a non-identity mapping the projection is UNCONDITIONAL: a
    # name/type comparison alone cannot catch the add-after-drop trap,
    # where a dropped column's dormant PHYSICAL name equals a re-added
    # column's LOGICAL name — the frame looks schema-shaped while
    # serving the dropped data.
    if manifest["schema"] and (
        not _mapping_is_identity(mapping)
        or [(f.name, f.dataType.json()) for f in out.schema.fields]
        != [
            (f["name"], json.dumps(f["type"]))
            for f in json.loads(manifest["schema"])["fields"]
        ]
    ):
        out = _to_logical(out, manifest["schema"])
    if where:
        for col, (lo, hi) in where.items():
            if lo is not None:
                out = out.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                out = out.filter(F.col(col) <= F.lit(hi))
    if where_equals:
        for col, val in where_equals.items():
            out = out.filter(F.col(col) == F.lit(val))
    return out


def tx_count(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp=None,
) -> int:
    """Exact ``COUNT(*)`` of a snapshot from MANIFEST METADATA — no data
    scan: every commit records each file's footer row count (the Delta
    ``numRecords``-per-AddFile model, which is how Delta answers
    ``SELECT COUNT(*)`` from the log) and deletion vectors carry their
    exact ``dv_count``, so the live total is ``Σ(rows − dv_count)``. At
    100 TB this is a driver-side sum over the manifest versus a scan of
    every file. Falls back to counting the snapshot scan when any live
    entry predates row recording (or footers were unreachable at write
    time)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(spark, path, timestamp)
    cur = current_version(spark, path) if version is None else version
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    files = read_manifest(spark, path, cur)["files"]
    if all("rows" in f for f in files):
        return sum(int(f["rows"]) - int(f.get("dv_count", 0)) for f in files)
    return tx_read(spark, path, version=cur).count()


# Characters Spark/Hive %-escape in partition path segments
# (`ExternalCatalogUtils.escapePathName`): ASCII control chars plus this set.
_HIVE_ESCAPED = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_enc(v) -> str:
    """Encode a partition VALUE exactly the way Spark writes the ``k=v``
    path segment — the manifest stores path-side (encoded) values, so
    matching source values against them must encode, not ``str()``:
    booleans are lowercased (``True`` → ``true``), nulls become
    ``__HIVE_DEFAULT_PARTITION__``, and special characters are
    %-escaped (uppercase hex, Hive's ``escapePathName``). A ``str(v)``
    comparison silently missed those partitions, so the merge dropped
    their existing rows (it overwrote without carrying the slice)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    out = []
    for ch in s:
        if ch in _HIVE_ESCAPED or ord(ch) < 0x20:
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


def is_txlog_table(spark: SparkSession, path: str) -> bool:
    """True if ``path`` is a txlog-format table (has a ``_txlog`` dir with
    at least one committed version)."""
    return current_version(spark, path) is not None


_ALIAS_REF = re.compile(r"\b([ts])\s*\.\s*(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)")


def _rebind_clause_expr(expr: str) -> str:
    """Rewrite canonical ``t.col`` / ``s.col`` references in a MERGE
    clause expression onto the prefixed join namespace (``__t_col`` /
    ``__s_col``). Quoted regions are data; anything unqualified is left
    for Spark's analyzer, which fails LOUDLY on the prefixed frame (no
    bare column names exist there) instead of silently mis-binding."""

    def sub(m: "re.Match") -> str:
        side, col = m.group(1).lower(), m.group(2)
        name = col[1:-1] if col.startswith("`") else col
        return f"`__{side}_{name}`"

    return _sub_outside_quotes(_ALIAS_REF, sub, expr)


def _merge_apply_clauses(
    spark: SparkSession,
    slice_df: DataFrame | None,
    source: DataFrame,
    keys: list[str],
    clauses: dict,
    schema_json: str,
) -> DataFrame:
    """Delta's general WHEN-clause MERGE semantics over the target slice:

    - ``matched`` clauses (UPDATE SET col=expr / DELETE), first-match
      order, conditions over ``t.``/``s.``-qualified references;
    - ``not_matched`` clauses (INSERT * / INSERT (cols) VALUES (exprs)):
      a source row unmatched by any target lands via its FIRST applying
      clause, or is dropped;
    - ``not_matched_by_source`` clauses (DELETE / UPDATE SET …): target
      rows whose key the source does not carry.

    One full-outer join on the merge keys; every clause condition and
    assignment is a Column expression over the prefixed joined frame —
    no per-row Python, the whole merge stays one Catalyst plan. Matched
    rows with no applying clause keep their target values; source rows
    with no applying insert clause are dropped (Delta's semantics)."""
    from pyspark.sql.types import StructType

    fields = StructType.fromJson(json.loads(schema_json)).fields
    tgt_cols = [f.name for f in fields]
    types = {f.name: f.dataType for f in fields}
    if slice_df is None:
        slice_df = spark.createDataFrame(
            [], StructType.fromJson(json.loads(schema_json))
        )
    from pyspark.sql import Window

    t = slice_df.select(
        *(F.col(f"`{c}`").alias(f"__t_{c}") for c in slice_df.columns)
    ).withColumn("__t_present", F.lit(True))
    s = source.select(
        *(F.col(f"`{c}`").alias(f"__s_{c}") for c in source.columns)
    ).withColumn("__s_present", F.lit(True))
    # per-key source rank: a target row joined by DUPLICATE source keys
    # must keep exactly ONE copy when no matched clause fires (with
    # matched clauses present, duplicates that match a target row were
    # already refused upstream, so the rank is 1 there by construction;
    # unmatched duplicates still each insert — Delta's semantics). The
    # order is arbitrary-but-harmless: the kept copy carries TARGET
    # values either way.
    s = s.withColumn(
        "__s_rn",
        F.row_number().over(
            Window.partitionBy(*(F.col(f"`__s_{k}`") for k in keys)).orderBy(
                F.lit(1)
            )
        ),
    )
    joined = t.join(
        s,
        [F.col(f"`__t_{k}`") == F.col(f"`__s_{k}`") for k in keys],
        "full_outer",
    )
    t_here = F.coalesce(F.col("__t_present"), F.lit(False))
    s_here = F.coalesce(F.col("__s_present"), F.lit(False))
    groups = {
        "matched": t_here & s_here,
        "not_matched": s_here & ~t_here,
        "not_matched_by_source": t_here & ~s_here,
    }

    def first_match(group: str) -> list[tuple]:
        """[(applies_flag, clause)] in declaration order — each flag is
        'group holds, this condition holds, no earlier condition held'."""
        out, prior = [], F.lit(False)
        for cl in clauses.get(group) or []:
            c = (
                F.coalesce(F.expr(_rebind_clause_expr(cl["cond"])), F.lit(False))
                if cl.get("cond")
                else F.lit(True)
            )
            out.append((groups[group] & ~prior & c, cl))
            prior = prior | c
        return out

    m_cl = first_match("matched")
    nm_cl = first_match("not_matched")
    nmbs_cl = first_match("not_matched_by_source")

    drop = F.lit(False)
    for flag, cl in m_cl + nmbs_cl:
        if cl["action"] == "delete":
            drop = drop | flag
    inserted = F.lit(False)
    for flag, _cl in nm_cl:
        inserted = inserted | flag
    keep = (
        (groups["matched"] & ~drop
         & F.coalesce(F.col("__s_rn") == 1, F.lit(True)))
        | (groups["not_matched_by_source"] & ~drop)
        | (groups["not_matched"] & inserted)
    )

    def value_of(c: str):
        col = None
        for flag, cl in m_cl + nmbs_cl:
            if cl["action"] == "update" and c in (cl.get("set") or {}):
                v = F.expr(_rebind_clause_expr(cl["set"][c]))
                col = (col if col is not None else F).when(flag, v)
        for flag, cl in nm_cl:
            vals = cl.get("values")
            v = (
                F.expr(_rebind_clause_expr(vals[c]))
                if vals and c in vals
                else F.lit(None)
            )
            col = (col if col is not None else F).when(flag, v)
        base = F.col(f"`__t_{c}`")
        out = base if col is None else col.otherwise(base)
        return out.cast(types[c]).alias(c)

    return joined.filter(keep).select(*(value_of(c) for c in tgt_cols))


def _partition_key(f: dict) -> tuple:
    """A manifest entry's hive partition as a hashable key."""
    return tuple(sorted(f["partition"].items()))


def _touched_partitions(
    source: DataFrame, partition_by: list[str], mapping: dict[str, str]
) -> set[tuple]:
    """The partition keys (:func:`_partition_key`: PHYSICAL names,
    path-encoded values) that ``source``'s rows fall into."""
    return {
        tuple(sorted((mapping.get(k, k), _hive_enc(r[k])) for k in partition_by))
        for r in source.select(*partition_by).distinct().collect()
    }


def tx_merge(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    *,
    partition_by: list[str] | None = None,
    precedence: str | None = None,
    schema_evolution: bool = False,
    use_dv: bool = False,
    not_matched_by_source: str | None = None,
    clauses: dict | None = None,
) -> int:
    """File-pruned MERGE (K3): rewrite only the partitions the source
    touches; untouched partitions' files are carried forward by reference.
    Update semantics match ``writer.merge_upsert`` (source wins; with
    ``precedence`` last-writer-wins).

    ``use_dv=True`` is Delta's MERGE-with-deletion-vectors (the fix for
    merge write amplification): instead of rewriting every file of the
    touched partitions, the matched target rows are soft-deleted by
    (file, row_index) sidecar and only the WINNER rows (source updates +
    inserts, precedence-resolved) are appended — unmatched rows in
    affected files never move. Not combinable with ``schema_evolution``.

    ``not_matched_by_source="delete"`` is Delta's WHEN NOT MATCHED BY
    SOURCE THEN DELETE clause (full-sync merge): target rows whose keys
    the source does not carry are DELETED. The clause is GLOBAL by
    definition — an unmatched row in any partition must go — so it
    forfeits partition pruning: the whole table is read and replaced
    (truncate commit), exactly the cost Delta pays for the same clause.
    Not combinable with ``use_dv``.

    Concurrency: the merge result is computed against the snapshot current
    at entry. If, by commit time, a concurrent commit changed the files of
    any TOUCHED partition (or, unpartitioned, changed the table at all),
    the commit raises :class:`TxConflictError` instead of silently
    overwriting the concurrent writer's rows; untouched-partition changes
    are re-carried from the winner's manifest and commit fine.

    ``clauses`` is Delta's general WHEN-clause form (conditional /
    column-level actions) — see :func:`_merge_apply_clauses` for the
    semantics and ``core.sql_dml`` for the SQL shapes that produce it::

        {"matched": [{"cond": "s.v > t.v", "action": "update",
                      "set": {"v": "s.v"}},
                     {"cond": None, "action": "delete"}],
         "not_matched": [{"cond": None, "action": "insert",
                          "values": {"id": "s.id", "v": "s.v"}}],
         "not_matched_by_source": [{"cond": None, "action": "delete"}]}

    Conditions and assignments are SQL expressions over ``t.``/``s.``-
    qualified column references. Not combinable with ``precedence``,
    ``use_dv``, ``schema_evolution``, the ``not_matched_by_source``
    string parameter, or column-mapped tables. A ``not_matched_by_source``
    clause — or a source missing any partition column — forfeits
    partition pruning (global rewrite), never correctness."""
    from .writer import _dedup_on_keys

    if use_dv and schema_evolution:
        raise ValueError(
            "tx_merge: schema_evolution with use_dv is not supported — "
            "evolve the schema with a regular merge first"
        )
    if not_matched_by_source not in (None, "delete"):
        raise ValueError(
            "not_matched_by_source: only 'delete' is supported"
        )
    if not_matched_by_source and use_dv:
        raise ValueError(
            "tx_merge: not_matched_by_source with use_dv is not supported "
            "— the clause replaces the table; run the sync as a rewrite"
        )
    if clauses is not None:
        bad = [
            k for k, v in (
                ("precedence", precedence),
                ("use_dv", use_dv),
                ("schema_evolution", schema_evolution),
                ("not_matched_by_source", not_matched_by_source),
            ) if v
        ]
        if bad:
            raise ValueError(
                f"tx_merge: clauses is not combinable with {bad} — "
                "express the behavior as WHEN clauses instead"
            )
    global_replace = not_matched_by_source is not None or bool(
        clauses and clauses.get("not_matched_by_source")
    )
    cur = current_version(spark, path)
    if cur is None:
        if clauses is not None:
            raise ValueError(
                "tx_merge: WHEN-clause merge needs an existing table "
                "(the clause expressions bind the TABLE schema) — create "
                "it with tx_write first"
            )
        if precedence is None:
            source = _dedup_on_keys(source, keys)
        else:
            source = _precedence_pick(source, keys, precedence, None)
        return tx_write(
            spark, source, path, partition_by=partition_by, mode="overwrite"
        )
    if use_dv:
        return _dv_merge(spark, source, path, keys, partition_by, precedence, cur)

    manifest0 = read_manifest(spark, path, cur)
    mapping = _schema_mapping(manifest0["schema"])
    mapped = not _mapping_is_identity(mapping)
    if mapped and schema_evolution:
        raise ValueError(
            "tx_merge: schema_evolution on a column-mapped table is not "
            "supported — add the column with tx_write(schema_evolution=True) "
            "first, then merge"
        )
    if mapped and clauses is not None:
        raise ValueError(
            "tx_merge: WHEN-clause merge on a column-mapped table is not "
            "supported — free-form clause expressions cannot be soundly "
            "rebound to renamed physical columns"
        )
    # partitioning is table metadata: the merged slice must be written
    # back INSIDE the hive layout even when the caller passes nothing.
    # Partition PRUNING additionally needs the source to carry the
    # partition columns (to name the touched partitions) — a source
    # without them forfeits pruning (global path), never the layout.
    partition_by = _partition_default(manifest0, partition_by)
    prunable = bool(partition_by) and all(
        c in source.columns for c in partition_by or []
    )
    touched: set[tuple] | None = None
    read: set[str] = set()
    if prunable and not global_replace:
        touched = _touched_partitions(source, partition_by, mapping)
        touched_files = [
            f for f in manifest0["files"] if _partition_key(f) in touched
        ]
        slice_df = (
            _read_files(spark, path, touched_files, manifest0["schema"])
            if touched_files
            else None
        )
        if slice_df is not None:
            # always project onto the schema: covers renamed physicals AND
            # dormant dropped columns in the raw files
            slice_df = _to_logical(slice_df, manifest0["schema"])
        read = {f["path"] for f in touched_files}
    else:
        slice_df = tx_read(spark, path, cur)

    if schema_evolution and slice_df is not None:
        from .writer import _evolve_schemas

        slice_df, source = _evolve_schemas(slice_df, source)

    if global_replace and slice_df is not None and clauses is None:
        # WHEN NOT MATCHED BY SOURCE DELETE: the target contributes only
        # its MATCHED rows — unmatched-by-source rows are deleted by
        # omission (the commit truncates the base snapshot)
        slice_df = slice_df.join(
            source.select(*keys).distinct(), keys, "left_semi"
        )
    if clauses is not None:
        if clauses.get("matched") and slice_df is not None:
            # Delta raises on merge ambiguity rather than picking a
            # winner: duplicate source keys that MATCH a target row make
            # "which row's matched clause fires" arbitrary
            # (DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW). Duplicates
            # matching no target row are legitimate — each lands through
            # the not_matched clauses, exactly Delta's behavior.
            dup_keys = (
                source.groupBy(*(F.col(f"`{k}`") for k in keys))
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .drop("__n")
            )
            if dup_keys.join(
                slice_df.select(*keys), keys, "left_semi"
            ).limit(1).count():
                raise TxMergeError(
                    "tx_merge: multiple source rows match the same target "
                    "row — the WHEN clauses to apply are ambiguous; "
                    "deduplicate the source on the merge keys first"
                )
        merged = _merge_apply_clauses(
            spark, slice_df, source, keys, clauses,
            manifest0["schema"],
        )
    elif precedence is None:
        source = _dedup_on_keys(source, keys)
        if slice_df is None:
            merged = source
        else:
            kept = slice_df.join(source.select(*keys), keys, "left_anti")
            merged = kept.unionByName(source.select(*slice_df.columns))
    else:
        merged = _precedence_pick(source, keys, precedence, slice_df)

    stored = _write_invariants(manifest0.get("properties", {}))
    if stored:  # persistent constraints bind MERGE output too
        _enforce_checks(merged, stored)
    # identity columns: MERGE never allocates (sources supply their keys),
    # but explicit values it lands must advance the high-water mark or a
    # later tx_write allocation would mint duplicates — ride the stats
    idents = _identity_cols(manifest0.get("properties", {}))
    id_stats = sorted(c for c in idents if c in merged.columns)
    # the merged slice replaces exactly the touched partitions; commit with
    # a conflict check on the read set. Mapped tables write physical names
    # and keep the table's metadata-carrying schema record (no evolution
    # under mapping, so the logical shape is unchanged).
    _, new_files = _write_batch(
        _to_physical(merged, mapping), path,
        _map_names(partition_by, mapping),
        _map_names(id_stats, mapping) or None,
    )
    schema_json = manifest0["schema"] if mapped else merged.schema.json()

    def _id_extra(snap: dict) -> dict:
        # advance identity marks past explicit values the merge landed
        # (from the recorded file stats), re-based per attempt against the
        # snapshot current at that moment
        if not id_stats:
            return {}
        nowm = snap.get("identity", {})
        return {
            "identity": _identity_marks_from_stats(
                {c: idents[c] for c in id_stats}, new_files, mapping,
                {c: int(v) for c, v in nowm.items()},
            )
        }

    # the merged slice replaces exactly the touched partitions; untouched
    # partitions stay in place. Unpruned, it replaces the whole table.
    return _commit_rewrite(
        spark, path, manifest0, "merge", read, new_files,
        schema=schema_json, overlaps=touched, truncate=touched is None,
        extra=_id_extra,
    )


def _dv_merge(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None,
    precedence: str | None,
    cur: int,
) -> int:
    """MERGE via deletion vectors: soft-delete the target's MATCHED live
    rows (semi-join on the merge keys, positions kept) and append the
    winner row per source key — source wins, or last-writer-wins under
    ``precedence`` against the matched target rows. Unmatched rows in
    affected files are untouched; write volume is O(matched + source),
    not O(touched partitions)."""
    from .writer import _dedup_on_keys

    manifest = read_manifest(spark, path, cur)
    mapping = _schema_mapping(manifest["schema"])
    mapped = not _mapping_is_identity(mapping)
    partition_by = _partition_default(manifest, partition_by)
    touched = (
        _touched_partitions(source, partition_by, mapping)
        if partition_by
        else None
    )
    cand = [
        f
        for f in manifest["files"]
        if touched is None or _partition_key(f) in touched
    ]

    tgt_cols = [
        fld["name"] for fld in json.loads(manifest["schema"])["fields"]
    ]
    matched = None
    if cand:
        tgt = _read_files_with_position(spark, path, cand)
        # merge logic runs in LOGICAL space (also drops dormant columns)
        tgt = _to_logical(tgt, manifest["schema"])
        matched = tgt.join(source.select(*keys).distinct(), keys, "semi")
    if precedence is None:
        winners = _dedup_on_keys(source, keys).select(*tgt_cols)
    else:
        winners = _precedence_pick(
            source, keys, precedence,
            matched.drop("_txlog_fp", "_txlog_ri") if matched is not None else None,
        ).select(*tgt_cols)
    stored = _write_invariants(manifest.get("properties", {}))
    if stored:  # persistent constraints bind DV-merge winners too
        _enforce_checks(winners, stored)
    if mapped:
        winners = _to_physical(winners, mapping)

    # a pure-insert merge marks nothing: its sidecar is removed
    dv = _write_dv(spark, path, matched) if matched is not None else None
    _, new_files = _write_batch(
        winners, path, _map_names(partition_by, mapping), None
    )
    # unpartitioned, any concurrent commit conflicts
    return _commit_rewrite(
        spark, path, manifest, "merge", {f["path"] for f in cand}, new_files,
        dv=dv, overlaps=touched, exclusive=touched is None,
    )


def _precedence_pick(
    source: DataFrame,
    keys: list[str],
    precedence: str,
    target: DataFrame | None,
) -> DataFrame:
    """Last-writer-wins resolution over target ∪ source (source wins ties)."""
    from pyspark.sql import Window

    src = source.withColumn("_src", F.lit(1))
    tagged = (
        src
        if target is None
        else target.withColumn("_src", F.lit(0)).unionByName(
            src.select(*target.columns, "_src")
        )
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(precedence).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )


def tx_restore(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE TABLE TO VERSION (Delta's RESTORE): commit a NEW version
    whose file list is the target version's — metadata-only, no data
    movement, and the restore itself is time-travelable/undoable like any
    other commit. Fails if the target's files were already vacuumed."""
    target = read_manifest(spark, path, version)
    root = path.rstrip("/")
    for f in target["files"]:
        if not _exists(spark, _resolve_file(root, f["path"])[0]):
            raise FileNotFoundError(
                f"cannot restore to v{version}: {f['path']} was vacuumed"
            )

    def build(cur: int | None) -> dict:
        rec = {
            "op": "restore",
            "restore_of": version,
            "schema": target["schema"],
            "add": target["files"],
            "remove": [],
            "truncate": True,
        }
        # the restore record truncate-grounds the log, so it must carry
        # the table's accumulated protocol forward (features are monotone
        # — restoring to a pre-feature version does not downgrade)
        cur_proto = (
            read_manifest(spark, path, cur).get("protocol")
            if cur is not None
            else None
        )
        proto = _merge_protocol(cur_proto, target.get("protocol"))
        if proto:
            rec["protocol"] = proto
        return rec

    return _commit(spark, path, build)


def tx_clone(spark: SparkSession, src: str, dst: str, version: int | None = None) -> int:
    """Shallow clone (Delta's CLONE): create a NEW table whose v1 manifest
    references the source snapshot's data files by ABSOLUTE path — zero
    data copied; the clone then evolves independently (its own commits
    write its own batch dirs). Vacuuming the SOURCE can invalidate a
    shallow clone — same caveat Delta documents; deep-copy with
    ``tx_write(spark, tx_read(spark, src), dst)`` when lifetimes differ."""
    cur = version if version is not None else current_version(spark, src)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {src}")
    if current_version(spark, dst) is not None:
        raise FileExistsError(f"clone target {dst} already has a txlog")
    manifest = read_manifest(spark, src, cur)
    src_root = src.rstrip("/")
    fs, p, _ = _fs(spark, src_root)
    abs_root = fs.makeQualified(p).toString()
    files = []
    for f in manifest["files"]:
        e = {**f, "path": f"{abs_root}/{f['path']}"}
        if f.get("dv"):
            # DV sidecars also live at the SOURCE — absolutize their refs
            # so the clone's reads resolve them there
            e["dv"] = [
                r if _is_abs_ref(r) else f"{abs_root}/{r}" for r in f["dv"]
            ]
        files.append(e)

    def build(_cur: int | None) -> dict:
        rec = {
            "op": "clone",
            "clone_of": {"source": abs_root, "version": cur},
            "schema": manifest["schema"],
            "add": files,
            "remove": [],
            "truncate": True,
        }
        if manifest.get("protocol"):
            # the clone's fresh log must declare every feature its
            # inherited entries use (DVs, column mapping, ...)
            rec["protocol"] = manifest["protocol"]
        if manifest.get("properties"):
            # Delta's CLONE copies table properties — constraints and
            # appendOnly follow the data; txn marks deliberately do NOT
            # (a clone is a new table; Delta documents the same)
            rec["properties"] = manifest["properties"]
        if manifest.get("identity"):
            # identity marks FOLLOW the data (unlike txn marks): the clone
            # carries the source's rows, so re-allocating from scratch
            # would mint duplicate ids on the first append
            rec["identity"] = manifest["identity"]
        return rec

    return _commit(spark, dst, build)


def tx_convert(
    spark: SparkSession,
    path: str,
    *,
    partition_by: list[str] | None = None,
    partition_types: dict[str, str] | None = None,
) -> int:
    """Delta's ``CONVERT TO DELTA`` twin: convert a plain parquet
    directory into a txlog table IN PLACE, METADATA-ONLY — v1's manifest
    references the existing files where they sit (zero rows copied or
    moved; a petabyte directory converts in seconds), with per-file
    bytes from the listing and rows from the parquet FOOTERS. The log
    lands under ``<path>/_txlog`` beside the data; later commits write
    normal ``data/<batch>`` dirs next to the converted files, and a full
    OPTIMIZE materializes everything into managed batches.

    Hive-partitioned layouts need ``partition_by`` naming the partition
    columns (Delta's CONVERT requires the same spec); the layout is
    recorded as table metadata. Refuses when the directory is already a
    txlog table, holds no parquet files, or nests files outside the
    declared hive layout. Converted entries cannot carry deletion
    vectors until a compaction moves them into managed batches (the DV
    sidecar keys on the batch-relative path) — the DV paths refuse with
    that instruction."""
    root = path.rstrip("/")
    if current_version(spark, root) is not None:
        raise FileExistsError(f"{root} is already a txlog table")
    listed = [
        (rel, size)
        for rel, size in _list_parquet_files(spark, root)
        if not rel.startswith((f"{_DATA}/", f"{_LOG}/", f"{_DV}/"))
    ]
    if not listed:
        raise FileNotFoundError(f"no parquet data files under {root}")
    want = sorted(partition_by or [])
    rels = [r for r, _ in listed]
    rowcounts = _footer_rows(root, rels)
    entries = []
    for rel, size in listed:
        dirs = rel.split("/")[:-1]
        nonhive = [d for d in dirs if "=" not in d]
        part = _partition_of(rel)
        if nonhive or sorted(part) != want:
            raise ValueError(
                f"tx_convert at {root}: file {rel!r} sits under "
                f"partition dirs {sorted(part)} (non-hive: {nonhive}) "
                f"but partition_by names {want} — CONVERT needs the "
                "exact hive layout spelled out"
            )
        entries.append({
            "path": rel,
            "partition": part,
            "bytes": size,
            **(
                {"rows": rowcounts[rel]}
                if rowcounts is not None and rel in rowcounts
                else {}
            ),
        })
    schema_json = spark.read.parquet(root).schema.json()
    if partition_types:
        # the hive dirs carry only STRINGS (the session pins partition
        # type inference off); the CONVERT spec's declared types become
        # the table schema, and reads cast the recovered strings to them
        # — exactly how Delta serves log-stored partition values
        from pyspark.sql.types import _parse_datatype_string

        unknown = set(partition_types) - set(partition_by or [])
        if unknown:
            raise ValueError(
                f"tx_convert at {root}: partition type(s) declared for "
                f"non-partition column(s) {sorted(unknown)}"
            )
        sch = json.loads(schema_json)
        for fld in sch["fields"]:
            if fld["name"] in partition_types:
                dt = _parse_datatype_string(partition_types[fld["name"]])
                fld["type"] = json.loads(dt.json())
        schema_json = json.dumps(sch)

    def build(cur: int | None) -> dict:
        if cur is not None:
            raise TxConflictError(
                f"tx_convert at {root}: a concurrent commit created a "
                f"txlog here (v{cur})"
            )
        rec = {
            "op": "convert",
            "schema": schema_json,
            "add": entries,
            "remove": [],
            "truncate": True,
            # durable marker: tx_vacuum extends its sweep to the table
            # ROOT for converted tables (the original files live outside
            # data/<batch>; once a later OPTIMIZE materializes them they
            # would otherwise be unreapable orphans). Delta's VACUUM
            # scans the whole table dir for the same reason — and shares
            # the same caveat: nothing else may live in the directory.
            "properties": {
                "convertedFrom": "parquet",
                **(
                    {_PARTCOLS_PROP: ",".join(partition_by)}
                    if partition_by
                    else {}
                ),
            },
        }
        return rec

    return _commit(spark, root, build)


def tx_vacuum(
    spark: SparkSession,
    path: str,
    keep_versions: int = 2,
    retain_hours: float = 168.0,
    dry_run: bool = False,
) -> list[str]:
    """Reap data files unreferenced by the newest ``keep_versions``
    manifests, and drop the older manifests (they would dangle). Returns
    the deleted file paths. Time travel remains valid for every kept
    version. ``dry_run=True`` (Delta's VACUUM DRY RUN) returns the same
    list without deleting anything or touching the log.

    ``retain_hours`` (default 7 days, the reference's ``vacuum(hours)``
    retention, `common_jobs_functions.py:341-349`): unreferenced files
    YOUNGER than the cutoff are spared. This is the guard against deleting
    a concurrent writer's freshly written batch before its manifest
    commits — without it, vacuum racing an in-flight commit yields a
    committed version with dangling file references. Pass ``0`` only when
    no writer can be in flight (tests, single-writer maintenance windows).
    """
    if keep_versions < 1:
        # keep_versions=0 would drop EVERY manifest including the current
        # one — the table would become unreadable
        raise ValueError("keep_versions must be >= 1")
    versions, checkpoints = _log_listing(spark, path)
    if not versions:
        return []
    keep = versions[-keep_versions:]
    drop = versions[: -keep_versions]
    # ground the truncated log: kept versions must resolve without the
    # deltas being dropped, so materialize a checkpoint at the OLDEST kept
    # version first (then every kept version resolves from it + its tail)
    if drop and keep[0] not in checkpoints and not dry_run:
        _write_checkpoint(spark, path, keep[0])
        checkpoints = sorted(checkpoints + [keep[0]])
    # referenced files of the kept versions: resolve the oldest once, then
    # roll the snapshot forward one delta at a time — O(checkpoint + tail),
    # not O(keep_versions * snapshot)
    state = {
        f["path"]: f for f in read_manifest(spark, path, keep[0])["files"]
    }
    referenced = set(state)
    referenced_dv = {r for f in state.values() for r in (f.get("dv") or ())}
    for v in keep[1:]:
        state = _apply_commit(state, read_commit(spark, path, v))
        referenced.update(state)
        referenced_dv.update(
            r for f in state.values() for r in (f.get("dv") or ())
        )
    cutoff_millis = (time.time() - retain_hours * 3600.0) * 1000.0
    root = path.rstrip("/")
    data_root = f"{root}/{_DATA}"
    removed = []
    if _exists(spark, data_root):
        fs, p, _ = _fs(spark, data_root)
        prefix = fs.makeQualified(p).toString()
        it = fs.listFiles(p, True)
        to_delete = []
        while it.hasNext():
            st = it.next()
            full = st.getPath().toString()
            rel = f"{_DATA}/" + full[len(prefix) :].lstrip("/")
            name = st.getPath().getName()
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            if rel in referenced:
                continue
            if st.getModificationTime() > cutoff_millis:
                continue  # too young — may belong to an uncommitted batch
            to_delete.append((full, rel))
        for full, rel in to_delete:
            if not dry_run:
                _delete(spark, full)
            removed.append(rel)
    # CONVERTED tables (tx_convert: original files live at the table
    # ROOT, outside data/): once a later OPTIMIZE materialized them they
    # would be unreapable orphans — the durable `convertedFrom` property
    # extends the sweep to the root, exactly Delta's whole-table-dir
    # VACUUM (and its shared caveat: nothing else may live in the dir)
    newest = read_manifest(spark, path, keep[-1])
    if (newest.get("properties") or {}).get("convertedFrom"):
        fs, p, _ = _fs(spark, root)
        prefix = fs.makeQualified(p).toString()
        it = fs.listFiles(p, True)
        guarded = (f"{_DATA}/", f"{_LOG}/", f"{_DV}/")
        to_delete = []
        while it.hasNext():
            st = it.next()
            full = st.getPath().toString()
            rel = full[len(prefix) :].lstrip("/")
            name = st.getPath().getName()
            if rel.startswith(guarded):
                continue  # managed trees have their own sweeps above
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            if rel in referenced:
                continue
            if st.getModificationTime() > cutoff_millis:
                continue
            to_delete.append((full, rel))
        for full, rel in to_delete:
            if not dry_run:
                _delete(spark, full)
            removed.append(rel)
    # deletion-vector sidecars: a DV batch dir stays while ANY kept version
    # references it; unreferenced ones past the retention cutoff are reaped
    # whole (same young-file guard as data: an in-flight DV delete's
    # sidecar lands before its commit record)
    dv_root = f"{root}/{_DV}"
    if _exists(spark, dv_root):
        local = _as_local_dir(dv_root)
        if local is not None:
            children = [
                (e.name, e.stat().st_mtime * 1000.0)
                for e in os.scandir(local)
                if e.is_dir()
            ]
        else:
            fs, p, _ = _fs(spark, dv_root)
            children = [
                (st.getPath().getName(), st.getModificationTime())
                for st in fs.listStatus(p)
                if st.isDirectory()
            ]
        for name, mtime in children:
            ref = f"{_DV}/{name}"
            if ref in referenced_dv or mtime > cutoff_millis:
                continue
            if not dry_run:
                _delete(spark, f"{dv_root}/{name}")
            removed.append(ref)
    if dry_run:
        return sorted(removed)
    for v in drop:
        _delete(spark, _version_path(path, v))
    for c in checkpoints:
        # checkpoints below the oldest kept version are superseded (the
        # grounding checkpoint at keep[0] replaces them)
        if c < keep[0]:
            _delete_checkpoint(spark, path, c)
    return sorted(removed)


def tx_diff(
    spark: SparkSession,
    path: str,
    keys: list[str],
    v_from: int,
    v_to: int | None = None,
    images: str = "post",
) -> DataFrame:
    """Change data feed between two versions (Delta CDF shape), computed as
    a full-outer key join of the two snapshots with null-safe struct
    comparison — one shuffle on the keys; at scale diff a partition subset
    by filtering both snapshots first (partition pruning applies to both
    file lists).

    ``images="post"`` (compact): one row per changed key,
    ``_change_type`` ∈ insert | update | delete — inserts/updates carry
    the POST-image, deletes the PRE-image.
    ``images="split"`` (Delta parity — what `table_changes` emits): an
    update becomes TWO rows, ``update_preimage`` and ``update_postimage``,
    so downstream consumers that need both sides (incremental aggregate
    maintenance, audit sinks) get them without re-reading the snapshots."""
    if images not in ("post", "split"):
        raise ValueError(images)
    old = tx_read(spark, path, v_from)
    new = tx_read(spark, path, v_to)
    other = [c for c in new.columns if c not in keys]
    a = old.select(*keys, F.struct(*other).alias("_a"))
    b = new.select(*keys, F.struct(*other).alias("_b"))
    j = a.join(b, keys, "full")
    if images == "post":
        change = (
            F.when(F.col("_a").isNull(), F.lit("insert"))
            .when(F.col("_b").isNull(), F.lit("delete"))
            .when(~F.col("_a").eqNullSafe(F.col("_b")), F.lit("update"))
        )
        img = F.coalesce(F.col("_b"), F.col("_a"))
        return (
            j.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(
                *keys,
                *[img[c].alias(c) for c in other],
                "_change_type",
            )
        )
    # split mode: explode each changed key into its (change_type, image)
    # rows in one pass — updates yield both sides, insert/delete one
    pairs = (
        F.when(
            F.col("_a").isNull(),
            F.array(F.struct(F.lit("insert").alias("t"), F.col("_b").alias("i"))),
        )
        .when(
            F.col("_b").isNull(),
            F.array(F.struct(F.lit("delete").alias("t"), F.col("_a").alias("i"))),
        )
        .when(
            ~F.col("_a").eqNullSafe(F.col("_b")),
            F.array(
                F.struct(F.lit("update_preimage").alias("t"), F.col("_a").alias("i")),
                F.struct(
                    F.lit("update_postimage").alias("t"), F.col("_b").alias("i")
                ),
            ),
        )
    )
    return (
        j.withColumn("_p", pairs)
        .filter(F.col("_p").isNotNull())
        .select(*keys, F.explode("_p").alias("_e"))
        .select(
            *keys,
            *[F.col("_e.i")[c].alias(c) for c in other],
            F.col("_e.t").alias("_change_type"),
        )
    )


_Z_BITS = 8  # quantile buckets per column: 2^8 ranks, interleaved


def _zorder_key(df: DataFrame, cols: list[str]) -> "F.Column":
    """Morton (Z-order) key over ``cols``: each column is quantile-ranked
    into 2^8 buckets (equi-DEPTH, so skew cannot collapse the key space),
    and the per-column bucket bits are interleaved. Sorting by this key
    gives every output file a small hyper-RECTANGLE of the value space, so
    per-file min/max stats are selective for predicates on ANY clustered
    column — lexicographic sort is selective only for the leading one.

    Bucket thresholds come from one ``approxQuantile`` pass (driver-side
    list of 2^8 floats per column — bounded metadata, not data). Numeric
    columns only: ranking needs a total order the quantile sketch
    understands."""
    from pyspark.sql import types as T

    n_buckets = 1 << _Z_BITS
    for c in cols:
        if not isinstance(
            df.schema[c].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType, T.DecimalType),
        ):
            raise ValueError(
                f"zorder column {c!r} must be numeric "
                f"(got {df.schema[c].dataType.simpleString()})"
            )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    thresholds = df.stat.approxQuantile(list(cols), probs, 0.001)
    bucket_cols = []
    for c, ts in zip(cols, thresholds):
        # dedup thresholds (constant-ish columns) keeping sort order
        uniq = sorted(set(ts))
        arr = F.array(*[F.lit(float(v)) for v in uniq])
        # bucket = how many thresholds the value passed — an O(|uniq|)
        # aggregate per row, fine for a compaction rewrite
        bucket_cols.append(
            F.aggregate(
                arr,
                F.lit(0),
                lambda acc, t: acc + F.when(
                    F.col(c).cast("double") >= t, 1
                ).otherwise(0),
            )
        )
    # interleave: bit i of column j lands at position i*len(cols)+j
    z = F.lit(0)
    for i in range(_Z_BITS):
        for j, b in enumerate(bucket_cols):
            z = z + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)),
                i * len(bucket_cols) + j,
            )
    return z


def tx_compact(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
    n_files: int | None = None,
    stats_for: list[str] | None = None,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    bloom_for: list[str] | None = None,
    small_bytes: int | None = None,
    partition_where: dict | None = None,
) -> int:
    """Small-file compaction (OPTIMIZE): rewrite the current snapshot as
    one fresh batch — collapses the per-commit batch dirs a long history
    accumulates and re-bins rows into ``n_files`` output files (per
    partition when partitioned). A normal commit: old versions stay
    time-travelable until vacuumed, readers never see a half-compacted
    table.

    ``small_bytes`` switches to INCREMENTAL OPTIMIZE (Delta's bin-packing
    behavior — the only form that survives 100 TB: a full rewrite of a
    petabyte table is not a maintenance op): only files SMALLER than the
    threshold are rewritten — plus any file carrying a deletion vector or
    predating size stamps (both must materialize) — and every
    right-sized file is carried forward BY REFERENCE. Not combinable
    with ``cluster_by`` (clustering is a global re-sort by definition).

    ``cluster_by`` (OPTIMIZE ... ZORDER's practical effect for the
    leading columns): range-repartition + sort on those columns, so each
    output file owns a DISJOINT value range and the per-file min/max
    stats become maximally selective — a ranged read then opens ~one file
    instead of all of them (incremental appends interleave ranges across
    files; clustering un-interleaves them). Clustered columns are added
    to ``stats_for`` automatically.

    ``zorder=True`` (with ≥2 ``cluster_by`` columns): cluster on the
    interleaved-bit Morton key instead of the lexicographic tuple, so
    2-column predicates skip files on BOTH columns — lexicographic
    clustering leaves the second column's per-file ranges near-full-width
    (every file spans all of col2 within its col1 slice).

    Column-mapped tables: a FULL compaction reads logically and
    overwrites, which MATERIALIZES renames/drops into the data files and
    resets the mapping to identity (time travel still reads old versions
    through their own schema records); incremental ``small_bytes``
    compaction preserves physical names untouched.

    ``partition_where`` (Delta's ``OPTIMIZE t WHERE part = v``): an
    equality spec on PARTITION columns scoping the op to matching
    partitions — the only OPTIMIZE shape that survives 100 TB is the
    one that touches today's partition, not the table. The scoped form
    is a partition-local rewrite commit: matching files rewrite (bin-
    packed or clustered), every other partition's files carry forward
    by reference, and the CAS conflict check guards only the touched
    set."""
    if small_bytes is not None and cluster_by:
        raise ValueError(
            "small_bytes (incremental OPTIMIZE) cannot cluster — "
            "clustering is a global re-sort; run them separately"
        )
    if partition_where or small_bytes is not None:
        return _compact_files(
            spark, path, partition_where, partition_by, n_files, stats_for,
            bloom_for, cluster_by, zorder, small_bytes,
        )
    _curv = current_version(spark, path)
    if _curv is not None:  # OPTIMIZE preserves the table's hive layout
        partition_by = _partition_default(
            read_manifest(spark, path, _curv), partition_by
        )
    df, stats_for = _layout(
        tx_read(spark, path), partition_by, n_files, stats_for, cluster_by,
        zorder,
    )
    return tx_write(
        spark, df, path, partition_by=partition_by, mode="overwrite",
        stats_for=stats_for, bloom_for=bloom_for,
    )


def _layout(
    df: DataFrame,
    partition_by: list[str] | None,
    n_files: int | None,
    stats_for: list[str] | None,
    cluster_by: list[str] | None,
    zorder: bool,
) -> tuple[DataFrame, list[str] | None]:
    """OPTIMIZE's output layout: ``df`` clustered on ``cluster_by``
    (range-partitioned and sorted; on the Morton key with ``zorder`` and
    ≥ 2 columns), else re-binned into ``n_files`` per partition. Returns
    the frame and ``stats_for`` widened by the clustered columns."""
    if cluster_by:
        zkey = zorder and len(cluster_by) >= 2
        if zkey:
            df = df.withColumn("_zkey", _zorder_key(df, cluster_by))
        cols = [F.col("_zkey")] if zkey else [F.col(c) for c in cluster_by]
        df = (
            df.repartitionByRange(n_files, *cols)
            if n_files
            else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
        if zkey:
            df = df.drop("_zkey")
        return df, sorted(set(stats_for or []) | set(cluster_by))
    if n_files:
        df = df.repartition(n_files, *(partition_by or []))
    return df, stats_for


def _compact_files(
    spark: SparkSession,
    path: str,
    partition_where: dict | None,
    partition_by: list[str] | None,
    n_files: int | None,
    stats_for: list[str] | None,
    bloom_for: list[str] | None,
    cluster_by: list[str] | None,
    zorder: bool,
    small_bytes: int | None,
) -> int:
    """Incremental and partition-scoped OPTIMIZE: rewrite only the files
    in scope and carry every other file forward by reference.

    ``small_bytes`` (Delta's bin-packing) scopes to files SMALLER than
    the threshold, plus any file carrying a DV or predating size stamps
    (both must materialize). ``partition_where`` (Delta's ``OPTIMIZE t
    WHERE part = v``) scopes to the partitions matching an equality spec
    on partition columns; the hot partition compacts daily, the table
    never rewrites. Both combine.

    Incremental OPTIMIZE stays in PHYSICAL space end to end (it reads raw
    files and rewrites them unchanged); only the user-facing column
    params are translated. Conflict contract: the rewritten read set must
    survive to commit time; files added concurrently are carried from the
    winner's manifest and commit fine."""
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    manifest = read_manifest(spark, path, cur)
    mapping = _schema_mapping(manifest["schema"])
    # rewrites stay INSIDE the table's hive layout: an unpartitioned
    # rewrite would escape dynamic-overwrite remove sets and pruning
    partition_by = _partition_default(
        manifest, None if partition_where else partition_by
    )
    files = manifest["files"]
    if partition_where:
        if not partition_by:
            raise ValueError(
                f"compact at {path}: partition_where on an unpartitioned "
                "table — drop the WHERE or partition the table"
            )
        bad = sorted(set(partition_where) - set(partition_by))
        if bad:
            raise ValueError(
                f"compact at {path}: partition_where names non-partition "
                f"column(s) {bad} (partition columns: {partition_by})"
            )
        probe = {
            mapping.get(k, k): _hive_enc(v) for k, v in partition_where.items()
        }
        files = [
            f
            for f in files
            if all(f["partition"].get(k) == v for k, v in probe.items())
        ]
    if small_bytes is not None:
        files = [
            f
            for f in files
            if f.get("dv") or f.get("bytes") is None or f["bytes"] < small_bytes
        ]
        if len(files) <= 1 and not any(f.get("dv") for f in files):
            return cur  # nothing to bin-pack
    if not files:
        return cur
    stats_for, bloom_for = _skipping_defaults(
        manifest.get("properties", {}), stats_for, bloom_for
    )
    partition_by = _map_names(partition_by, mapping)
    df, stats_for = _layout(
        _read_files(spark, path, files, manifest["schema"]), partition_by,
        n_files, _map_names(stats_for, mapping), _map_names(cluster_by, mapping),
        zorder,
    )
    _, new_files = _write_batch(
        df, path, partition_by, stats_for, _map_names(bloom_for, mapping)
    )
    return _commit_rewrite(
        spark, path, manifest, "compact", {f["path"] for f in files}, new_files
    )


def _dv_rel_expr(fp_col):
    """The manifest-relative path (``data/<batch-hex>/…``) of a row's
    source file, from the ``_metadata.file_path`` URI — scheme/prefix
    agnostic (greedy ``.*/`` pins the match to the LAST batch-dir-shaped
    segment, so a table root that itself contains ``data/`` never
    confuses it; batch dirs are uuid4 hex, 32 chars)."""
    return F.regexp_extract(fp_col, "^.*/(data/[0-9a-f]{32}/.+)$", 1)


def _scan_batches(
    spark: SparkSession, path: str, files: list[dict], with_position: bool = False
):
    """The raw rows of ``files`` (no DVs applied), one ``basePath`` read
    per batch dir so partition columns are recovered from the paths,
    unioned by name; with ``with_position`` each row keeps its physical
    position as ``_txlog_fp``/``_txlog_ri``. None for no files."""
    root = path.rstrip("/")
    by_batch: dict[str, list[str]] = {}
    for f in files:
        full, bd = _resolve_file(root, f["path"])
        by_batch.setdefault(bd, []).append(full)
    out = None
    for bd, fl in sorted(by_batch.items()):
        part = spark.read.option("basePath", bd).parquet(*sorted(fl))
        if with_position:
            part = part.select(
                "*",
                F.col("_metadata.file_path").alias("_txlog_fp"),
                F.col("_metadata.row_index").alias("_txlog_ri"),
            )
        out = (
            part
            if out is None
            else out.unionByName(part, allowMissingColumns=True)
        )
    return out


def _read_files(spark: SparkSession, path: str, files: list[dict], schema_json: str):
    """The LIVE rows of the given manifest entries: per-batch basePath
    reads unioned by name, with deletion-vector entries anti-joined
    against their DV sidecars on (file, row_index) — every internal
    consumer (snapshot read, DML rewrite, MERGE, compaction) sees
    DV-deleted rows as gone, so a rewrite can never resurrect them."""
    out = _scan_batches(spark, path, [f for f in files if not f.get("dv")])
    dved = [f for f in files if f.get("dv")]
    if dved:
        live = _read_files_with_position(spark, path, dved).drop(
            "_txlog_fp", "_txlog_ri"
        )
        out = (
            live
            if out is None
            else out.unionByName(live, allowMissingColumns=True)
        )
    if out is None:
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(json.loads(schema_json)))
    return out


def _enforce_checks(df: DataFrame, checks: dict[str, str]) -> None:
    """One aggregate pass counting violations of every named constraint;
    raises :class:`TxCheckViolation` listing the offenders."""
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(expr), F.lit(False)), 1).otherwise(0)
        ).alias(name)
        for name, expr in checks.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {name: int(row[name] or 0) for name in checks if row[name]}
    if bad:
        raise TxCheckViolation(
            "CHECK constraint(s) violated, nothing committed: "
            + ", ".join(f"{n} ({c} rows)" for n, c in sorted(bad.items()))
        )


def _merge_range(where: dict, col: str, lo, hi) -> bool:
    """Intersect ``[lo, hi]`` (either end may be None) into
    ``where[col]``. Returns False when the bounds are type-incomparable
    with the existing ones (mixed-type conjuncts): the first bound is
    kept as an over-keeping hint, and a caller that needs an exact spec
    must then demote the clause to row-level-only."""
    cur = where.setdefault(col, (None, None))
    new_lo, new_hi = cur
    try:
        if lo is not None and (new_lo is None or lo > new_lo):
            new_lo = lo
        if hi is not None and (new_hi is None or hi < new_hi):
            new_hi = hi
    except TypeError:
        return False  # mixed types across conjuncts: keep the first bound
    where[col] = (new_lo, new_hi)
    return True


class _DmlScope(NamedTuple):
    """What a DELETE / UPDATE / REPLACE WHERE acts on (see
    :func:`_dml_scope`); write-side column lists are PHYSICAL."""

    manifest: dict
    mapping: dict[str, str]
    partition_by: list[str] | None
    stats_for: list[str] | None
    bloom_for: list[str] | None
    hit: list[dict]  # the files whose stats, bitsets or partition can match
    cond: "F.Column"  # the row-level predicate, over physical names
    can_match: Callable[[dict], bool]  # the pruner; also the append test


def _dml_scope(
    spark: SparkSession,
    path: str,
    op: str,
    where: dict[str, tuple] | None,
    where_equals: dict | None,
    condition,
    partition_by: list[str] | None,
    stats_for: list[str] | None,
    bloom_for: list[str] | None,
) -> _DmlScope:
    """Resolve the snapshot a DML statement acts on ONCE: the latest
    manifest and its column mapping, the files the predicate can touch
    (stats ranges, bloom bitsets, partition values and derived
    generated-column bounds; every other file carries forward by
    reference — Delta's file-pruned DML), and the row predicate. A
    free-form ``condition`` joins the row-level predicate but contributes
    NO pruning — with no structured spec beside it, every live file is a
    candidate (sargable conjuncts belong in where/where_equals)."""
    where = where or {}
    where_equals = where_equals or {}
    if not where and not where_equals and condition is None:
        raise ValueError(
            f"{op} needs a predicate (where, where_equals and/or condition)"
        )
    if any(v is None for v in where_equals.values()):
        raise ValueError("where_equals probes must be non-null; use `where`")
    cur = current_version(spark, path)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {path}")
    manifest = read_manifest(spark, path, cur)
    # predicates arrive logical; stats/bloom/file columns are physical
    mapping = _schema_mapping(manifest["schema"])
    _check_condition_mapping(condition, mapping)
    can_match = _file_pruner(manifest, where, where_equals)
    stats_for, bloom_for = _skipping_defaults(
        manifest.get("properties", {}), stats_for, bloom_for
    )
    # rewrites stay INSIDE the table's hive layout: an unpartitioned
    # rewrite would escape dynamic-overwrite remove sets and pruning
    partition_by = _map_names(_partition_default(manifest, partition_by), mapping)
    part_types = _partition_types(manifest["schema"])
    return _DmlScope(
        manifest, mapping, partition_by,
        _map_names(stats_for, mapping), _map_names(bloom_for, mapping),
        [f for f in manifest["files"] if can_match(f)],
        _dml_predicate(
            _map_keys(where, mapping), _map_keys(where_equals, mapping),
            condition, {c: part_types.get(c) for c in partition_by or ()},
        ),
        can_match,
    )


def _dml_rewrite(
    spark: SparkSession,
    path: str,
    scope: _DmlScope,
    transform,
    op: str,
    insert_df: DataFrame | None = None,
) -> int:
    """DELETE/UPDATE by copy-on-write: ``transform(df, cond, mapping)``
    produces the rewritten content of the scope's hit files, which the
    commit swaps in for them. ``insert_df`` (LOGICAL names, table schema)
    is written as an additional batch in the SAME commit — the
    replaceWhere shape: delete-matching + insert, atomic."""
    manifest, mapping = scope.manifest, scope.mapping
    if not scope.hit and insert_df is None:
        return manifest["version"]  # nothing can match — no new version
    stored = _write_invariants(manifest.get("properties", {}))

    def write(df: DataFrame) -> list[dict]:
        return _write_batch(
            df, path, scope.partition_by, scope.stats_for, scope.bloom_for
        )[1]

    new_files: list[dict] = []
    if scope.hit:
        affected = _read_files(spark, path, scope.hit, manifest["schema"])
        rewritten = transform(affected, scope.cond, mapping)
        if op == "update" and stored:
            # a delete can only remove rows, never violate. Constraint
            # exprs are written (and validated at add time) against
            # LOGICAL names; the rewritten frame carries physical names. A
            # constraint added after a rename would fail to bind — or,
            # after rename-then-re-add, silently bind a dormant physical
            # name of a DIFFERENT column — so enforce on the logical
            # projection, exactly the frame tx_read would serve.
            _enforce_checks(_to_logical(rewritten, manifest["schema"]), stored)
        new_files += write(rewritten)
    if insert_df is not None:
        if stored:  # inserted rows bind constraints like any write
            _enforce_checks(insert_df, stored)
        new_files += write(_to_physical(insert_df, mapping))
    return _commit_rewrite(
        spark, path, manifest, op, {f["path"] for f in scope.hit}, new_files,
        overlaps=scope.can_match,
    )


def _dml_predicate(
    where: dict, where_equals: dict, condition=None, types: dict | None = None
):
    """The row-level Column predicate of a DML where/where_equals spec,
    AND-composed with the optional free-form ``condition`` (a SQL
    expression string or Column — the `DELETE WHERE <any expr>` path;
    structured specs stay the file-pruning hints). A column named in
    ``types`` ({name: type json}) is compared in that type: the rewrite's
    file read types hive partition columns as strings."""

    def column(name: str):
        t = (types or {}).get(name)
        return F.col(name) if t is None else F.col(name).cast(t)

    cond = None
    for col, (lo, hi) in where.items():
        c = F.lit(True)
        if lo is not None:
            c = c & (column(col) >= F.lit(lo))
        if hi is not None:
            c = c & (column(col) <= F.lit(hi))
        cond = c if cond is None else (cond & c)
    for col, val in where_equals.items():
        c = column(col) == F.lit(val)
        cond = c if cond is None else (cond & c)
    if condition is not None:
        c = F.expr(condition) if isinstance(condition, str) else condition
        cond = c if cond is None else (cond & c)
    return cond


def _check_condition_mapping(condition, mapping: dict) -> None:
    """Free-form DML conditions bind column names AS WRITTEN against the
    physical frame; on a column-MAPPED table (post-RENAME) a logical
    name in the expression would either fail analysis or — worse, after
    rename-then-re-add — silently bind a different column. Refuse loudly;
    ``where``/``where_equals`` remap and stay available."""
    if condition is not None and not _mapping_is_identity(mapping):
        raise ValueError(
            "free-form `condition` DML is not supported on column-mapped "
            "tables (a renamed column's logical name cannot be soundly "
            "rebound in an opaque expression) — use where/where_equals, "
            "which remap logical names to physical storage names"
        )


def tx_delete(
    spark: SparkSession,
    path: str,
    *,
    where: dict[str, tuple] | None = None,
    partition_by: list[str] | None = None,
    stats_for: list[str] | None = None,
    where_equals: dict | None = None,
    bloom_for: list[str] | None = None,
    use_dv: bool = False,
    condition: "str | F.Column | None" = None,
) -> int:
    """Row-level DELETE (Delta `DELETE WHERE`): files provably missing the
    predicate carry forward untouched; affected files are rewritten
    without the matching rows. Returns the committed version (unchanged if
    no file could match).

    ``where`` prunes by range stats; ``where_equals`` prunes by the Bloom
    index — the GDPR point-delete path: removing one subject's rows from
    a bloom-indexed table rewrites only the file(s) that can contain the
    key, not the table. Pass ``bloom_for`` so rewritten files keep their
    bitsets.

    ``use_dv=True`` takes Delta's DELETION VECTOR path instead of the
    rewrite: matching rows are soft-deleted by (file, row_index) in a
    parquet sidecar under ``_dv/`` and the affected entries gain a ``dv``
    reference — NO data file is rewritten (a point delete on a gigabyte
    file writes KBs). Reads, DML, MERGE, CDF, and compaction all resolve
    through the DV (compaction materializes it away); ``tx_vacuum`` reaps
    unreferenced sidecars. The trade: each read of a DV'd file pays the
    (file, row_index) anti-join until compaction."""
    scope = _dml_scope(
        spark, path, "delete", where, where_equals, condition,
        partition_by, stats_for, bloom_for,
    )
    if use_dv:
        return _dv_dml(spark, path, scope)
    return _dml_rewrite(
        spark, path, scope,
        lambda df, cond, _m: df.filter(~F.coalesce(cond, F.lit(False))),
        "delete",
    )


def tx_replace_where(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    where: dict[str, tuple] | None = None,
    where_equals: dict | None = None,
    condition: "str | F.Column | None" = None,
    partition_by: list[str] | None = None,
    stats_for: list[str] | None = None,
    bloom_for: list[str] | None = None,
) -> int:
    """Delta's ``replaceWhere`` / ``INSERT INTO t REPLACE WHERE <pred>``:
    ONE atomic commit that deletes the rows matching the predicate and
    inserts ``df`` — the arbitrary-predicate overwrite (dynamic partition
    overwrite generalized beyond partition boundaries). File pruning is
    the DELETE's: only files whose stats/Bloom can match the predicate
    are rewritten, everything else carries forward by reference; the
    incoming batch lands beside them.

    Delta's validation applies: every incoming row must SATISFY the
    predicate (otherwise the op would silently write rows outside the
    region it claims to replace) — violations raise before anything
    lands. ``df`` must carry exactly the table's columns. Tables
    declaring identity/generated/default columns are refused loudly
    (those fill through ``tx_write``'s INSERT path — run the replace as
    DELETE + INSERT when you need them); CHECK constraints are enforced
    on both the rewritten and the inserted rows."""
    # the column checks and the rewrite see one snapshot
    scope = _dml_scope(
        spark, path, "replace_where", where, where_equals, condition,
        partition_by, stats_for, bloom_for,
    )
    manifest = scope.manifest
    props = manifest.get("properties", {})
    special = (
        set(_column_defaults(props))
        | set(_identity_cols(props))
        | set(_generated_cols(props))
    )
    if special:
        raise ValueError(
            f"tx_replace_where at {path}: the table declares "
            f"identity/generated/default column(s) {sorted(special)}, "
            "which only tx_write's INSERT path fills — run the replace "
            "as tx_delete + tx_write instead"
        )
    tbl_cols = [
        f["name"] for f in json.loads(manifest["schema"])["fields"]
    ]
    if sorted(df.columns) != sorted(tbl_cols):
        raise ValueError(
            f"tx_replace_where at {path}: frame columns "
            f"{sorted(df.columns)} must match the table's {sorted(tbl_cols)}"
        )
    # Delta's replaceWhere check: incoming rows must satisfy the
    # predicate, or the commit would write rows outside the region it
    # replaces. Evaluated on LOGICAL names (df arrives logical).
    pred = _dml_predicate(where or {}, where_equals or {}, condition)
    stray = df.filter(~F.coalesce(pred, F.lit(False))).limit(1).count()
    if stray:
        raise ValueError(
            f"tx_replace_where at {path}: incoming rows violate the "
            "replace predicate — every inserted row must satisfy it "
            "(Delta's replaceWhere contract)"
        )
    return _dml_rewrite(
        spark, path, scope,
        lambda d, cond, _m: d.filter(~F.coalesce(cond, F.lit(False))),
        "replace_where", insert_df=df.select(*tbl_cols),
    )


def _dv_dml(
    spark: SparkSession, path: str, scope: _DmlScope, assignments: dict | None = None
) -> int:
    """DELETE/UPDATE via deletion vectors: mark the matching
    (file, row_index) pairs among the LIVE rows of the scope's hit files
    (prior DVs applied, so counts are exact and never double-marked) in
    one sidecar batch, and commit updated entries that reference it —
    touched files' contents stay untouched. With ``assignments``
    (UPDATE), the matching rows' POST-images are appended as a fresh data
    batch in the SAME commit (Delta's DV update: old image soft-deleted,
    new image appended). Concurrency contract matches the rewrite path:
    the read set must survive, and a concurrent append overlapping the
    predicate conflicts."""
    op = "update" if assignments else "delete"
    manifest, mapping = scope.manifest, scope.mapping
    if not scope.hit:
        return manifest["version"]
    matching = _read_files_with_position(spark, path, scope.hit).filter(
        F.coalesce(scope.cond, F.lit(False))
    )
    ref, counts = _write_dv(spark, path, matching)
    if not counts:  # predicate matched no live row
        return manifest["version"]
    new_files: list[dict] = []
    if assignments:
        updated = matching.drop("_txlog_fp", "_txlog_ri")
        for col, expr in assignments.items():
            updated = updated.withColumn(mapping.get(col, col), expr)
        stored = _write_invariants(manifest.get("properties", {}))
        if stored:  # persistent constraints bind DV-update post-images
            try:
                # enforce on the logical projection: exprs bind logical
                # names (see the rewrite-path comment on rename hazards)
                _enforce_checks(
                    _to_logical(updated, manifest["schema"]), stored
                )
            except TxCheckViolation:
                _delete(spark, f"{path.rstrip('/')}/{ref}")  # orphan sidecar
                raise
        _, new_files = _write_batch(
            updated, path, scope.partition_by, scope.stats_for, scope.bloom_for
        )
    return _commit_rewrite(
        spark, path, manifest, op, set(counts), new_files,
        dv=(ref, counts), overlaps=scope.can_match,
    )


def _read_files_with_position(
    spark: SparkSession, path: str, files: list[dict]
):
    """LIVE rows of the entries (prior DVs applied) with their physical
    position kept as ``_txlog_fp``/``_txlog_ri`` — the input a DV writer
    needs."""
    stray = [
        f["path"] for f in files
        if not re.search(r"(?:^|/)data/[0-9a-f]{32}/", f["path"])
    ]
    if stray:
        raise ValueError(
            "deletion vectors key on the managed batch-relative path, "
            f"which CONVERTed entries do not have ({stray[:3]}…) — run a "
            "full OPTIMIZE (tx_compact) first to materialize them into "
            "managed batches, then retry the DV operation"
        )
    root = path.rstrip("/")
    out = _scan_batches(spark, path, files, with_position=True)
    dv_refs = sorted({ref for f in files for ref in (f.get("dv") or ())})
    if dv_refs:
        # shallow clones carry ABSOLUTE dv refs (sidecars live at the
        # source); native entries carry root-relative ones
        deleted = spark.read.parquet(
            *(r if _is_abs_ref(r) else f"{root}/{r}" for r in dv_refs)
        )
        out = (
            out.withColumn("_txlog_rel", _dv_rel_expr(F.col("_txlog_fp")))
            .join(
                deleted.withColumnRenamed("rel", "_txlog_rel")
                .withColumnRenamed("ri", "_txlog_ri"),
                ["_txlog_rel", "_txlog_ri"],
                "left_anti",
            )
            .drop("_txlog_rel")
        )
    return out


def tx_update(
    spark: SparkSession,
    path: str,
    *,
    where: dict[str, tuple] | None = None,
    assignments: dict[str, "F.Column"] | None = None,
    partition_by: list[str] | None = None,
    stats_for: list[str] | None = None,
    where_equals: dict | None = None,
    bloom_for: list[str] | None = None,
    use_dv: bool = False,
    condition: "str | F.Column | None" = None,
) -> int:
    """Row-level UPDATE: ``assignments`` maps column → new-value Column,
    applied to rows matching the predicate; same file-pruned rewrite as
    delete (ranges via stats, equalities via the Bloom index — the
    point-redaction path).

    ``use_dv=True``: Delta's deletion-vector UPDATE — the matching rows'
    OLD images are soft-deleted in a sidecar and their POST-images are
    appended as a fresh batch in the same commit; untouched rows of the
    affected files are never rewritten (the point-redaction of one
    subject's rows in gigabyte files moves only the changed rows)."""
    if not assignments:
        raise ValueError("update needs assignments")
    scope = _dml_scope(
        spark, path, "update", where, where_equals, condition,
        partition_by, stats_for, bloom_for,
    )
    if use_dv:
        return _dv_dml(spark, path, scope, assignments)

    def apply(df, cond, mapping):
        # assignment KEYS are logical; the frame is physical. Assignment
        # EXPRESSIONS referencing a renamed column's logical name fail at
        # analysis (column not found) — loud, never silently wrong.
        out = df
        for col, expr in assignments.items():
            phys = mapping.get(col, col)
            out = out.withColumn(
                phys,
                F.when(F.coalesce(cond, F.lit(False)), expr).otherwise(
                    F.col(phys)
                ),
            )
        return out

    return _dml_rewrite(spark, path, scope, apply, "update")
