"""txlog STREAMING SOURCE — stream a txlog table's commits as micro-batches.

The Delta-parity gap this closes: the reference's tables are Delta, and
Delta tables are directly usable as Structured Streaming SOURCES
(``spark.readStream.format("delta")`` — the standard CDC-fanout pattern:
one job writes a table, downstream jobs tail it incrementally instead of
re-reading snapshots). txlog already had the sink side (``streaming/
sink.merge_stream``) and pull-based diffs (``tx_diff``); this module makes
a txlog table a first-class streaming source via PySpark 4's Python Data
Source API (`pyspark.sql.datasource`):

    register_txlog_source(spark)
    df = spark.readStream.format("txlog").load("/path/to/table")

Semantics mirror Delta's streaming source:

- **Offsets are log versions.** The stream's offset is the last consumed
  commit version; Spark checkpoints it, so restarts resume exactly after
  the last committed micro-batch (exactly-once with an idempotent sink).
- **Initial snapshot, then tail.** By default the first micro-batch is the
  RESOLVED snapshot at stream start (removes already applied), and every
  later batch is the add-files of the new commits — Delta's default
  behavior. ``startingVersion=N`` skips the snapshot and replays commit
  adds from version N; ``startingVersion=latest`` streams only commits
  made after the stream starts.
- **Append-only contract.** A tailed commit that REMOVES files (overwrite,
  DELETE/UPDATE, compaction, restore) is not expressible as an append;
  the stream FAILS on it unless ``skipChangeCommits=true`` (Delta's
  option of the same name), which skips those commits entirely.
- **Admission control.** ``maxFilesPerTrigger`` / ``maxBytesPerTrigger``
  cap how many data files (bytes) a micro-batch admits — whichever limit
  trips first ends the batch (version boundaries are respected: a
  commit's files never split across batches, so each batch is a prefix
  of the log).
  Scope, dictated by the Python API (``latestOffset()`` receives no start
  offset, and Python sources don't participate in ``SupportsAdmissionControl``):
  the cap engages from the SECOND micro-batch of a run — the first batch
  of a fresh/restarted query, and an ``availableNow`` drain (one planned
  batch), admit everything available. A steady continuously-triggered
  stream is capped; a catch-up run is not.

Scale shape: the driver side touches only log JSON (O(changed files) per
batch, bounded by the checkpointed-log resolution of ``read_manifest``);
data files are read EXECUTOR-side, one input partition per file, via
pyarrow — rows never pass through the driver. Partition columns are
reconstructed from the hive-style ``k=v`` path segments exactly like
``tx_read``'s basePath read, cast to the table schema's types.

Limit (stated, like the txlog commit claim): the log-reading fast path is
plain-python file I/O, so the source addresses LOCAL paths (``/…`` or
``file:…``). An object-store deployment would swap the same four helpers
behind an fsspec shim; the offset/batch logic is storage-agnostic.

Reference parity: Delta streaming-source semantics the reference's tables
expose (`common_jobs_functions.py` writes plain Delta tables; any of them
can be tailed). Public API shape: `pyspark.sql.datasource` (Spark 4).
"""

from __future__ import annotations

import json
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..sources import txlog as TX


class TxChangeCommitError(RuntimeError):
    """A tailed commit removed or rewrote files — not representable in an
    append-only stream. Mirrors Delta's 'Detected a data update/delete'
    streaming error; pass ``skipChangeCommits=true`` to skip such commits."""


def _require_local(path: str) -> str:
    if TX._as_local_dir(path) is None:
        raise NotImplementedError(
            "the txlog streaming source reads the log with plain-python "
            f"I/O and supports local paths only (got {path!r}); an object "
            "store needs an fsspec shim for the four log helpers"
        )
    return path


def _snapshot_schema(path: str, version: int | None = None) -> tuple[int, str]:
    """(resolved version, schema JSON) of the table — driver-side, no
    SparkSession (the Data Source API resolves schemas in a bare Python
    process). ``version`` pins time travel: a frozen table serves the
    schema AS OF that commit, not the current one (a later
    ``tx_add_column`` must not leak into a pinned historical read).
    Column-mapped tables are fine: the schema keeps its
    ``txlog_physical`` field metadata and ``_read_partition`` resolves
    physical file names per field, serving LOGICAL names."""
    cur = TX.current_version(None, path) if version is None else int(version)
    if cur is None:
        raise FileNotFoundError(f"no committed txlog version at {path}")
    manifest = TX.read_manifest(None, path, cur)
    return cur, manifest["schema"]


def _asof_version(opts: dict) -> int | None:
    """The pinned time-travel version of an option map (versionasof /
    timestampasof), or None for the live snapshot."""
    v = opts.get("versionasof")
    ts = opts.get("timestampasof")
    if v is not None and ts is not None:
        raise ValueError("pass versionAsOf OR timestampAsOf, not both")
    if ts is not None:
        try:
            ts = float(ts)
        except (TypeError, ValueError):
            pass
        return TX.version_at_timestamp(None, opts["path"], ts)
    return int(v) if v is not None else None


def _initial_offset_from_options(path: str, options: dict) -> dict:
    """Resolve the stream's initial offset from ``startingVersion`` /
    ``startingTimestamp`` (mutually exclusive — Delta errors the same
    way). ``{"version": -1}`` = snapshot-first default.

    ``startingTimestamp`` means: replay commits whose (monotonicized)
    wall-clock stamp is AT-OR-AFTER the timestamp (Delta's semantics) —
    the offset lands just before the first such commit. A timestamp
    preceding the earliest RETAINED commit of a vacuumed log raises
    (the pruned commits may postdate it — replaying only the retained
    suffix would silently drop changes)."""
    sv, st = options.get("startingversion"), options.get("startingtimestamp")
    if sv is not None and st is not None:
        raise ValueError(
            "pass startingVersion OR startingTimestamp, not both"
        )
    if st is not None:
        import datetime as dt

        # ISO-8601 first, epoch seconds second: a compact date like
        # '20260816' IS valid ISO (basic format) and must read as the
        # date it looks like, never as epoch 20260816 (year 1970);
        # epoch strings ('1786844175', '1786844175.5') are not valid
        # ISO and fall through to the float branch. Anything parsable
        # by neither raises, naming both accepted forms.
        if isinstance(st, str):
            try:
                parsed = dt.datetime.fromisoformat(st)
            except ValueError:
                try:
                    target_ms = int(float(st) * 1000)
                except (ValueError, OverflowError):
                    # OverflowError: 'inf'/'Infinity' pass float() but
                    # int(inf) overflows — still garbage input.
                    raise ValueError(
                        f"startingTimestamp {st!r} is neither ISO-8601 "
                        "(e.g. '2026-08-16T00:00:00') nor epoch seconds"
                    ) from None
            else:
                if parsed.tzinfo is None:
                    parsed = parsed.replace(tzinfo=dt.timezone.utc)
                target_ms = int(parsed.timestamp() * 1000)
        else:
            target_ms = int(float(st) * 1000)
        versions = TX.list_versions(None, path)
        if not versions:
            raise FileNotFoundError(f"no committed version at {path}")
        eff = 0
        first_at_or_after = None
        for v in versions:
            rec = TX.read_commit(None, path, v, check_protocol=False)
            eff = max(eff, int(rec.get("ts_ms", 0)))
            if eff >= target_ms:
                first_at_or_after = v
                break
        if first_at_or_after is None:
            return {"version": versions[-1]}  # nothing at/after: tail only
        if first_at_or_after == versions[0] and versions[0] > 1:
            raise ValueError(
                f"startingTimestamp {st!r} is not covered by the retained "
                f"log at {path} (earliest retained version is "
                f"{versions[0]}; earlier commits were vacuumed)"
            )
        return {"version": first_at_or_after - 1}
    if sv is None:
        return {"version": -1}  # snapshot-first (Delta default)
    if str(sv).lower() == "latest":
        return {"version": TX.current_version(None, path) or 0}
    v = int(sv)
    if v < 1:
        raise ValueError("startingVersion must be >= 1 or 'latest'")
    return {"version": v - 1}


def _retained_span(path: str, s: int, e: int) -> list[int]:
    """The commit versions in ``(s, e]`` the log still retains, verified
    GAPLESS: txlog versions are consecutive integers, so every version
    ``s+1..e`` must be present in ``list_versions``. A gap means
    ``tx_vacuum`` pruned commits between a stream's checkpointed offset
    and the retained horizon — replaying only the retained suffix would
    silently drop the pruned commits' rows (Delta fails loudly here;
    so do we, same contract as the missing ``v-1`` manifest path)."""
    span = [v for v in TX.list_versions(None, path) if s < v <= e]
    expected = list(range(s + 1, e + 1))
    if span != expected:
        missing = sorted(set(expected) - set(span))
        raise RuntimeError(
            f"stream needs commit versions {s + 1}..{e} of {path} but "
            f"{missing[:8]}{'…' if len(missing) > 8 else ''} "
            "were vacuumed — start a fresh stream (new checkpoint) to "
            "re-read the snapshot"
        )
    return span


class _TxFilesPartition(InputPartition):
    """One micro-batch input split: data files (relative paths) under one
    table root, read executor-side. ``dv`` maps rel path → deletion-vector
    sidecar refs (snapshot reads must not emit soft-deleted rows)."""

    def __init__(
        self,
        root: str,
        rel_paths: list[str],
        schema_json: str,
        dv: dict[str, list[str]] | None = None,
    ):
        self.root = root
        self.rel_paths = rel_paths
        self.schema_json = schema_json
        self.dv = dv or {}


def _ref_local(root: str, ref: str) -> str:
    """A manifest file ref as a local filesystem path: refs are
    table-root-relative normally; SHALLOW CLONES reference the source's
    files ABSOLUTELY, possibly Hadoop-qualified (``file:/x``) — the
    same resolution ``txlog._resolve_file`` gives the native reader."""
    full = ref if TX._is_abs_ref(ref) else f"{root}/{ref}"
    return TX._as_local_dir(full) or full


def _read_partition(part: _TxFilesPartition) -> Iterator:
    """Executor-side read of one split: pyarrow parquet scan + partition
    columns reconstructed from the hive path segments, aligned and cast to
    the table schema (Spark validates the Arrow batches against it).
    Column-MAPPED tables are served under their LOGICAL names: each
    target field resolves its physical file/path name from the schema's
    ``txlog_physical`` metadata, so renames are invisible to consumers
    and a re-added column (fresh physical id) null-pads over dormant
    dropped data instead of resurrecting it."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_schema = StructType.fromJson(json.loads(part.schema_json))
    target = to_arrow_schema(spark_schema)
    phys_of = {
        f.name: (f.metadata or {}).get("txlog_physical", f.name)
        for f in spark_schema.fields
    }
    for rel in part.rel_paths:
        table = pq.read_table(_ref_local(part.root, rel))
        if part.dv.get(rel):
            # deletion vectors: drop soft-deleted row positions (sidecar
            # parquet of (rel, ri); pq.read_table preserves file order, so
            # position == _metadata.row_index)
            import numpy as np

            dead: set[int] = set()
            for ref in part.dv[rel]:
                side = pq.read_table(_ref_local(part.root, ref))
                for rel2, ri in zip(
                    side.column("rel").to_pylist(),
                    side.column("ri").to_pylist(),
                ):
                    if rel2 == rel:
                        dead.add(ri)
            if dead:
                table = table.filter(
                    pa.array(
                        ~np.isin(np.arange(table.num_rows), sorted(dead))
                    )
                )
        n = table.num_rows
        part_vals = {
            k: TX._hive_dec(v) for k, v in TX._partition_of(rel).items()
        }
        cols = []
        for field in target:
            phys = phys_of.get(field.name, field.name)
            if phys in table.column_names:
                col = table.column(phys)
            elif phys in part_vals:
                raw = part_vals[phys]
                col = pa.array([raw] * n, type=pa.string())
                if pa.types.is_timestamp(field.type):
                    # a hive TIMESTAMP value is a session-zone wall-clock
                    # time without an offset; core/session pins that zone
                    # to UTC, which the cast to the zoned type assumes
                    col = pc.cast(col, pa.timestamp(field.type.unit))
                if not pa.types.is_string(field.type):
                    col = pc.cast(col, field.type)
            else:  # schema-evolved column absent from an old file
                col = pa.nulls(n, type=field.type)
            if col.type != field.type:
                col = pc.cast(
                    col.combine_chunks()
                    if isinstance(col, pa.ChunkedArray)
                    else col,
                    field.type,
                )
            cols.append(col)
        out = pa.table(cols, schema=target)
        yield from out.to_batches(max_chunksize=1 << 16)


class TxLogStreamReader(DataSourceStreamReader):
    """Version-offset micro-batch planner over a txlog table's commit log.

    Offset format: ``{"version": N}`` = commits through N consumed.
    ``{"version": -1}`` is the pre-initial-snapshot sentinel: the first
    planned batch reads the RESOLVED snapshot at its end version instead
    of tailing commit deltas.
    """

    def __init__(self, schema_json: str, options: dict):
        self.path = _require_local(options["path"]).rstrip("/")
        self.schema_json = schema_json
        self.skip_change_commits = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        mft = options.get("maxfilespertrigger")
        self.max_files = int(mft) if mft is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        mbt = options.get("maxbytespertrigger")
        self.max_bytes = int(mbt) if mbt is not None else None
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        self._initial = _initial_offset_from_options(self.path, options)
        # Admission control caps how far latestOffset advances past the
        # last PLANNED end. That base is only known from this run's own
        # initialOffset/partitions calls (observed call order on a fresh
        # query: latestOffset FIRST, then initialOffset, then partitions;
        # on a restart Spark replans from its checkpoint without telling
        # latestOffset where that is). While the base is unknown the
        # offset advances uncapped — capping from a guessed base could
        # move the offset BACKWARD past the checkpoint, which would
        # replay files into the sink. Hence: cap from the second planned
        # batch of a run, never the first.
        self._last_end: int | None = None

    # -- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        self._last_end = int(self._initial["version"])
        return self._initial

    def latestOffset(self) -> dict:
        cur = TX.current_version(None, self.path)
        if cur is None:
            return dict(self._initial)
        last = self._last_end
        # never cap the initial snapshot (last == -1): it is one resolved
        # manifest, not a commit range — admitted whole, like a fresh
        # Delta stream's initial snapshot version.
        capped = self.max_files is not None or self.max_bytes is not None
        if capped and last is not None and last >= 0:
            end, admitted, admitted_b = last, 0, 0
            for v in TX.list_versions(None, self.path):
                if v <= last:
                    continue
                # count without enforcing the append-only contract —
                # partitions() raises with full context if the commit is
                # actually planned; a skipped change commit admits 0 files
                rec = TX.read_commit(None, self.path, v)
                is_change = bool(
                    rec.get("truncate")
                    or rec.get("remove")
                    or "files" in rec
                    or any(f.get("dv") for f in rec.get("add", ()))
                )
                if not (is_change and self.skip_change_commits):
                    adds = rec.get("add", ())
                    admitted += len(adds)
                    admitted_b += sum(f.get("bytes", 0) for f in adds)
                end = v  # a commit never splits across batches
                if (self.max_files is not None and admitted >= self.max_files) or (
                    self.max_bytes is not None and admitted_b >= self.max_bytes
                ):
                    break
            cur = max(end, last)
        return {"version": cur}

    def commit(self, end: dict) -> None:  # log retention is tx_vacuum's job
        pass

    # -- batch planning ----------------------------------------------------

    def _tail_adds(self, rec: dict, v: int) -> list[dict]:
        """The add-file entries a tailed commit contributes, enforcing the
        append-only contract. Like Delta (which flags RemoveFile actions,
        not the op name), a truncate that clears an EMPTY prior snapshot —
        the v1 table creation, or an overwrite of a vacant table — removes
        nothing and passes as a pure append."""
        truncates = bool(rec.get("truncate")) and v > 1
        if truncates:
            try:  # an overwrite of a VACANT snapshot removes nothing
                truncates = bool(
                    TX.read_manifest(None, self.path, v - 1)["files"]
                )
            except FileNotFoundError:  # prior version vacuumed: conservative
                pass
        # a deletion-vector commit re-adds EXISTING entries with a dv ref —
        # streaming its adds would replay whole files; it is a change
        # commit exactly like a rewrite delete
        dv_marks = any(f.get("dv") for f in rec.get("add", ()))
        if truncates or dv_marks or rec.get("remove") or "files" in rec:
            if self.skip_change_commits:
                return []
            raise TxChangeCommitError(
                f"commit v{v} at {self.path} ({rec.get('op')}) removes or "
                "rewrites files; an append-only stream cannot represent it. "
                "Set skipChangeCommits=true to skip such commits, or start "
                "a fresh stream (new checkpoint) to re-read the snapshot."
            )
        return list(rec.get("add", ()))

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s, e = int(start["version"]), int(end["version"])
        self._last_end = max(e, self._last_end or -1)
        if s < 0:  # initial snapshot at e (removes already applied)
            files = TX.read_manifest(None, self.path, e)["files"]
        else:
            files = []
            for v in _retained_span(self.path, s, e):
                files.extend(
                    self._tail_adds(TX.read_commit(None, self.path, v), v)
                )
        parts = [
            _TxFilesPartition(
                self.path,
                [f["path"]],
                self.schema_json,
                {f["path"]: list(f["dv"])} if f.get("dv") else None,
            )
            for f in files
        ]
        # Spark requires >=1 partition per planned batch (an all-skipped
        # change-commit range yields zero files)
        return parts or [_TxFilesPartition(self.path, [], self.schema_json)]

    def read(self, partition: _TxFilesPartition) -> Iterator:
        return _read_partition(partition)


class TxLogBatchReader(DataSourceReader):
    """Snapshot batch read through the Python Data Source — the
    NAME-ADDRESSABLE SQL path: ``CREATE TABLE db.t USING txlog LOCATION
    '/path'`` resolves here, so txlog tables join the SQL serving catalog
    next to plain-parquet external tables (the reference's consumption
    model is exactly this: tables addressed by name in a SQL catalog,
    `stacks/cdk_datalake_analytics_stack.py:483-522`). The snapshot — current
    version, deletion vectors applied — is re-resolved at every query
    plan, so SQL reads always see the latest commit with no REFRESH.

    ``tx_read`` stays the fast path for programmatic reads (native
    parquet scan, stats/bloom file skipping, where-pushdown); this reader
    scans every live file through Arrow. The schema served is the one
    captured when Spark planned the table (for SQL tables: at CREATE
    TIME) — ``_read_partition`` null-pads/casts per file, so
    schema-evolved files still read; re-create the table to surface new
    columns."""

    def __init__(self, schema_json: str, options: dict):
        self.path = _require_local(options["path"]).rstrip("/")
        self.schema_json = schema_json
        # TIMESTAMP/VERSION AS OF through the SQL/batch face — same
        # resolution as tx_read(version=/timestamp=), local log walk.
        self.version: int | None = _asof_version(
            {**options, "path": self.path}
        )
        # pushed-filter pruning state (pushFilters may never be called)
        self._ranges: dict[str, tuple] = {}
        self._equals: dict = {}

    def pushFilters(self, filters):
        """Filter pushdown for the SQL serving path (Spark 4.1 Python
        Data Source API): the pushable subset becomes per-column [lo, hi]
        ranges and equality probes that ``partitions()`` uses for FILE
        SKIPPING — manifest min/max stats, Bloom bitsets
        (``tx_write(bloom_for=…)``), and hive partition values — so
        ``SELECT … FROM domain.t WHERE id = 7`` opens only the files that
        can contain id 7, the same pruning ``tx_read(where=…,
        where_equals=…)`` does natively. ALL filters are returned to
        Spark (skipping is advisory; every predicate is still evaluated
        row-level post-scan), so pruning can never change results."""
        from pyspark.sql.datasource import (
            EqualNullSafe,
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            LessThan,
            LessThanOrEqual,
            StringStartsWith,
        )

        ranges: dict[str, tuple] = {}
        # Rebuild BOTH pruning states from scratch: if Spark re-invokes
        # pushFilters with a different predicate set, stale equality
        # probes from the previous call must not Bloom-prune files the
        # new predicates still need.
        self._equals = {}

        for f in filters:
            attr = getattr(f, "attribute", None)
            if not (isinstance(attr, tuple) and len(attr) == 1):
                continue  # nested column: not prunable against flat stats
            col = attr[0]
            if isinstance(f, (EqualTo, EqualNullSafe)):
                if f.value is not None:
                    TX._merge_range(ranges, col, f.value, f.value)
                    self._equals.setdefault(col, f.value)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                # strict > treated as >= : sound (over-keeps, never drops)
                TX._merge_range(ranges, col, f.value, None)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                TX._merge_range(ranges, col, None, f.value)
            elif isinstance(f, In):
                vals = [v for v in f.value if v is not None]
                if vals:
                    try:
                        TX._merge_range(ranges, col, min(vals), max(vals))
                    except TypeError:
                        pass
            elif isinstance(f, IsNotNull):
                # all-null files (stats min=max=null) prune
                TX._merge_range(ranges, col, None, None)
            elif isinstance(f, StringStartsWith):
                # the prefix is a sound lower bound
                TX._merge_range(ranges, col, f.value, None)
        self._ranges = ranges
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        cur = (
            self.version
            if self.version is not None
            else TX.current_version(None, self.path)
        )
        if cur is None:
            raise FileNotFoundError(f"no committed txlog version at {self.path}")
        manifest = TX.read_manifest(None, self.path, cur)
        # SQL catalog tables may strip field METADATA from the schema Spark
        # hands back, which would silently drop the logical→physical column
        # mapping (reads would null-pad mapped columns): re-inject
        # txlog_physical from the current manifest, joined on logical name.
        mapping = TX._schema_mapping(manifest["schema"])
        schema_json = self.schema_json
        if not TX._mapping_is_identity(mapping):
            d = json.loads(schema_json)
            for f in d["fields"]:
                phys = mapping.get(f["name"])
                if phys and phys != f["name"]:
                    f["metadata"] = {
                        **(f.get("metadata") or {}),
                        "txlog_physical": phys,
                    }
            schema_json = json.dumps(d)
        files = manifest["files"]
        if self._ranges or self._equals:
            # pushed base-column bounds also derive GENERATED partition
            # column hints (date_format/year/to_date shapes) — Delta's
            # generated-column partition filter on the SQL face
            try:
                can_match = TX._file_pruner(manifest, self._ranges, self._equals)
            except TypeError:
                can_match = None  # a probe typed unlike its column: no skip

            def keep(f: dict) -> bool:
                try:
                    return can_match is None or can_match(f)
                except TypeError:
                    return True  # bound not orderable against a stat tag

            files = [f for f in files if keep(f)]
        parts = [
            _TxFilesPartition(
                self.path,
                [f["path"]],
                schema_json,
                {f["path"]: list(f["dv"])} if f.get("dv") else None,
            )
            for f in files
        ]
        return parts or [_TxFilesPartition(self.path, [], schema_json)]

    def read(self, partition: _TxFilesPartition) -> Iterator:
        return _read_partition(partition)


class _TxWriteMessage(WriterCommitMessage):
    """One task's written files: manifest-ready add entries."""

    def __init__(self, entries: list[dict]):
        self.entries = entries


def _sql_insert_blockers(manifest: dict) -> list[str]:
    """Invariants declared on a table that ``INSERT INTO … USING txlog``
    cannot enforce (``tx_write`` can). A non-empty list blocks the
    write."""
    props = manifest.get("properties", {})
    blockers = []
    if TX._identity_cols(props):
        blockers.append("identity columns")
    if TX._column_defaults(props):
        blockers.append("column defaults")
    if TX._generated_cols(props):
        blockers.append("generated columns")
    if TX._stored_checks(props):
        blockers.append("CHECK constraints")
    if props.get(TX._ROW_TRACKING_PROP):
        blockers.append("row tracking")
    if props.get("bloomFilterColumns"):
        blockers.append("bloom index columns")
    if not TX._mapping_is_identity(TX._schema_mapping(manifest["schema"])):
        blockers.append("column mapping")
    if any(f.get("partition") for f in manifest["files"]):
        blockers.append(
            "a hive-partitioned layout (SQL inserts write unpartitioned files)"
        )
    return blockers


class TxLogBatchWriter(DataSourceArrowWriter):
    """SQL DML INTO a txlog table by name: ``INSERT INTO domain.t …`` /
    ``INSERT OVERWRITE`` route here through the pinned format. Tasks
    write parquet files executor-side (with per-file min/max stats for
    the table's ``dataSkippingColumns``, so SQL inserts never strip the
    skipping index); the driver-side ``commit`` makes ONE atomic txlog
    commit through the same optimistic CAS as ``tx_write`` — a crash
    before commit leaves only unreferenced files for vacuum.

    Honesty gates: tables declaring invariants this writer cannot
    enforce — identity columns, column defaults, generated columns,
    stored CHECK constraints, row tracking, bloom index columns, column
    mapping — REFUSE loudly (use ``tx_write``, which enforces them);
    hive-partitioned tables refuse (SQL inserts write unpartitioned
    files). The gates run TWICE: at plan time against the snapshot
    (fail fast, before any task writes files) and again against the
    CURRENT manifest inside the CAS ``build`` callback — a concurrent
    ``tx_add_identity``/``tx_add_constraint``/``tx_enable_row_tracking``
    landing between planning and commit raises ``TxConflictError``
    instead of committing rows that violate the new invariant. Schema is
    validated with the same write-time rule as ``tx_write`` (no type
    changes, no new columns).

    ``INSERT OVERWRITE`` is the full-truncate form and needs
    ``spark.sql.sources.partitionOverwriteMode=static`` for the
    statement (under the engine default ``dynamic``, Spark plans
    OverwritePartitionsDynamic, which the Python Data Source API cannot
    express — partition-scoped replaces go through
    ``tx_write(mode="overwrite_dynamic")``)."""

    _kind = "SQL INSERT"

    def __init__(self, schema_json: str, options: dict, overwrite: bool):
        path = options.get("path") or options.get("_pinned_path")
        if not path:
            raise ValueError("txlog writer needs a table path")
        self.path = _require_local(path).rstrip("/")
        self.schema_json = schema_json
        self.overwrite = overwrite
        self.batch = __import__("uuid").uuid4().hex
        cur = TX.current_version(None, self.path)
        if cur is None:
            raise FileNotFoundError(f"no committed txlog version at {self.path}")
        manifest = TX.read_manifest(None, self.path, cur)
        props = manifest.get("properties", {})
        blockers = _sql_insert_blockers(manifest)
        if blockers:
            raise NotImplementedError(
                f"{self._kind} cannot enforce {', '.join(blockers)} declared "
                f"on {self.path}; write through txlog.tx_write"
            )
        stats_for, _ = TX._skipping_defaults(props, None, None)
        fields = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(self.schema_json)).fields
        }
        self.stat_tags = {
            c: TX._stat_tag(fields[c])
            for c in (stats_for or [])
            if c in fields
        }

    def write(self, iterator) -> _TxWriteMessage:
        import os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _TxWriteMessage([])
        table = pa.Table.from_batches(batches)
        rel = f"{TX._DATA}/{self.batch}/sql-{_uuid.uuid4().hex}.snappy.parquet"
        full = f"{self.path}/{rel}"
        local = TX._as_local_dir(full)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        pq.write_table(table, local, compression="snappy")
        entry = {
            "path": rel,
            "partition": {},
            "bytes": os.path.getsize(local),
            "rows": table.num_rows,
        }
        if self.stat_tags:
            stats = {}
            for c, tag in self.stat_tags.items():
                mm = pc.min_max(table[c])
                stats[c] = {
                    "t": tag,
                    "min": TX._stat_encode(tag, mm["min"].as_py()),
                    "max": TX._stat_encode(tag, mm["max"].as_py()),
                }
            entry["stats"] = stats
        return _TxWriteMessage([entry])

    def commit(self, messages) -> None:
        entries = [
            e for m in messages if m is not None for e in m.entries
        ]
        schema_json = self.schema_json
        overwrite = self.overwrite

        def build(cur):
            if cur is None:
                raise FileNotFoundError(
                    f"txlog table vanished at {self.path}"
                )
            snap = TX.read_manifest(None, self.path, cur)
            # re-run the honesty gates against the CURRENT snapshot: a
            # concurrent DDL that declared an invariant after this INSERT
            # was planned must not be bypassed (re-checked per CAS retry)
            blockers = _sql_insert_blockers(snap)
            if blockers:
                raise TX.TxConflictError(
                    f"a concurrent commit declared {', '.join(blockers)} on "
                    f"{self.path} after this {self._kind} was planned; the "
                    "writer cannot enforce them — re-run through "
                    "txlog.tx_write"
                )
            out_schema = schema_json
            if not overwrite and snap["schema"]:
                out_schema = TX._merge_table_schema(
                    snap["schema"], schema_json, False, "sql INSERT"
                )
            return {
                "op": "overwrite" if overwrite else "append",
                "schema": out_schema,
                "add": entries,
                "remove": [],
                "truncate": overwrite,
            }

        TX._commit(None, self.path, build)

    def abort(self, messages) -> None:
        import contextlib
        import os

        for m in messages or []:
            if m is None:
                continue
            for e in m.entries:
                local = TX._as_local_dir(f"{self.path}/{e['path']}")
                if local is not None:
                    with contextlib.suppress(OSError):
                        os.remove(local)


class TxLogStreamWriter(TxLogBatchWriter, DataSourceStreamArrowWriter):
    """STREAMING SINK into a txlog table — Delta's
    ``writeStream.format("delta").start(path)`` twin:

        df.writeStream.format("txlog").option("checkpointLocation", chk)
          .start(path)

    Micro-batch tasks write parquet executor-side (same stats-tagged
    files as the batch writer); the driver-side ``commit(messages,
    batchId)`` makes ONE atomic txlog commit carrying ``txn=(app,
    batchId)`` — the Delta-sink exactly-once contract: a batch replayed
    after a checkpoint rollback or a racing duplicate finds the
    per-app high-water mark at-or-past its id and becomes a NO-OP (its
    orphan files are removed immediately). ``app`` comes from the
    ``txnAppId`` option, else is derived from ``checkpointLocation``
    (distinct queries have distinct checkpoints; two queries sharing an
    app id would wrongly skip each other's batches — exactly Delta's
    txnAppId contract).

    ``outputMode("append")`` appends; ``outputMode("complete")``
    (``overwrite=True``) truncate-replaces per batch. A table that does
    not exist yet is CREATED by the first committed batch (Delta sink
    parity). The batch writer's honesty gates apply at plan time and
    again inside the CAS loop."""

    _kind = "streaming sink"

    def __init__(self, schema_json: str, options: dict, overwrite: bool):
        path = options.get("path") or options.get("_pinned_path")
        if not path:
            raise ValueError("txlog streaming sink needs a table path")
        if TX.current_version(None, _require_local(path).rstrip("/")) is None:
            # sink CREATES the table on its first committed batch: no
            # manifest yet, so no gates/stats to resolve at plan time
            self.path = path.rstrip("/")
            self.schema_json = schema_json
            self.overwrite = overwrite
            self.batch = __import__("uuid").uuid4().hex
            self.stat_tags = {}
        else:
            super().__init__(schema_json, options, overwrite)
        app = options.get("txnappid")
        if not app:
            chk = options.get("checkpointlocation")
            if chk:
                import hashlib

                app = (
                    "txlog-sink-"
                    + hashlib.sha1(chk.rstrip("/").encode()).hexdigest()[:12]
                )
        if not app:
            raise ValueError(
                "txlog streaming sink needs a txnAppId option (or a "
                "checkpointLocation to derive one) — the per-app txn "
                "high-water mark is what makes batch replays no-ops"
            )
        self.txn_app = app

    def commit(self, messages, batchId: int) -> None:  # type: ignore[override]
        entries = [e for m in messages if m is not None for e in m.entries]
        schema_json = self.schema_json
        overwrite = self.overwrite
        app = self.txn_app

        def build(cur):
            if cur is None:  # first batch creates the table
                return {
                    "op": "overwrite" if overwrite else "append",
                    "schema": schema_json,
                    "add": entries,
                    "remove": [],
                    "truncate": False,
                    "txn": {"app": app, "version": batchId},
                    "protocol": TX._protocol_with(
                        None, writer=(TX.FEATURE_IDEMPOTENT_TXN,)
                    ),
                }
            snap = TX.read_manifest(None, self.path, cur)
            # replay check AT COMMIT TIME, per CAS attempt: two racing
            # replays of the same batch cannot both land
            if snap.get("txns", {}).get(app, -1) >= batchId:
                raise TX._TxAlreadyApplied()
            blockers = _sql_insert_blockers(snap)
            if blockers:
                raise TX.TxConflictError(
                    f"a concurrent commit declared {', '.join(blockers)} on "
                    f"{self.path}; the streaming sink cannot enforce them — "
                    "fold through streaming/sink.merge_stream + tx_write"
                )
            out_schema = schema_json
            if not overwrite and snap["schema"]:
                out_schema = TX._merge_table_schema(
                    snap["schema"], schema_json, False, "streaming sink"
                )
            return {
                "op": "overwrite" if overwrite else "append",
                "schema": out_schema,
                "add": entries,
                "remove": [],
                "truncate": overwrite,
                "txn": {"app": app, "version": batchId},
                "protocol": TX._protocol_with(
                    snap.get("protocol"), writer=(TX.FEATURE_IDEMPOTENT_TXN,)
                ),
            }

        try:
            TX._commit(None, self.path, build)
        except TX._TxAlreadyApplied:
            # the batch already landed (replay after checkpoint loss or a
            # racing duplicate): reap this attempt's orphan files now
            TxLogBatchWriter.abort(self, messages)

    def abort(self, messages, batchId: int) -> None:  # type: ignore[override]
        TxLogBatchWriter.abort(self, messages)


class TxLogStreamDataSource(DataSource):
    """``spark.readStream.format("txlog").load(path)`` — txlog tables as
    Structured Streaming sources — and ``spark.read.format("txlog")``
    batch snapshot reads (register with :func:`register_txlog_source`).

    ``_pinned_path`` supports the SQL-catalog form: Spark 4.1 does not
    round-trip a catalog table's LOCATION/OPTIONS back into a Python
    data source at scan planning (the provider is re-created with an
    EMPTY option map), so ``CREATE TABLE … USING txlog`` cannot learn
    its path. :func:`pinned_txlog_source` bakes the path into a
    dynamically registered subclass instead — the format name itself is
    the address."""

    _pinned_path: str | None = None
    _pinned_extra: dict | None = None  # lowercase keys; runtime options win

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def _opts(self) -> dict:
        o = dict(self._pinned_extra or {})
        o.update(self.options)
        if not o.get("path") and self._pinned_path:
            o["path"] = self._pinned_path
        return o

    def _read_change_feed(self) -> bool:
        return (
            str(self._opts().get("readchangefeed", "false")).lower() == "true"
        )

    def schema(self) -> StructType:
        opts = self._opts()
        path = opts.get("path")
        if not path:
            raise ValueError("txlog source needs a path: .load('/table/dir')")
        path = _require_local(path)
        _, schema_json = _snapshot_schema(
            path, _asof_version({**opts, "path": path})
        )
        if self._read_change_feed():
            schema_json = _cdf_schema_json(schema_json)
        return StructType.fromJson(json.loads(schema_json))

    def streamReader(
        self, schema: StructType
    ) -> "TxLogStreamReader | TxCdfStreamReader":
        if self._read_change_feed():
            # the reader plans from the TABLE schema; Spark validates the
            # emitted batches against the CDF schema it got from schema()
            _, table_json = _snapshot_schema(self._opts()["path"])
            return TxCdfStreamReader(table_json, self._opts())
        return TxLogStreamReader(schema.json(), self._opts())

    def reader(self, schema: StructType) -> "TxLogBatchReader | TxCdfBatchReader":
        if self._read_change_feed():
            # plan from the TABLE schema; Spark validates emitted batches
            # against the CDF schema it got from schema()
            _, table_json = _snapshot_schema(self._opts()["path"])
            return TxCdfBatchReader(table_json, self._opts())
        return TxLogBatchReader(schema.json(), self._opts())

    def writer(self, schema: StructType, overwrite: bool) -> TxLogBatchWriter:
        return TxLogBatchWriter(schema.json(), self._opts(), overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> TxLogStreamWriter:
        return TxLogStreamWriter(schema.json(), self._opts(), overwrite)


# ---------------------------------------------------------------------------
# CHANGE-DATA-FEED streaming source — Delta's
# ``readStream.option("readChangeFeed", "true")`` twin: change ROWS as a
# stream, version offsets in the Spark checkpoint.
#
# Two modes, both planned driver-side from log JSON only:
#
# - DEFAULT (file-action reconstruction, Delta's no-CDC-action shape): a
#   commit's added files stream as ``insert`` rows, its removed files as
#   ``delete`` rows carrying the pre-image (for commits that rewrite
#   files — merge/update/compaction — the feed is the net-equivalent
#   delete+insert of the touched files, exactly what Delta reconstructs
#   for operations without materialized ``_change_data``).
# - ROW-KEYED (``rowKeyed=true``, requires
#   :func:`~..sources.txlog.tx_enable_row_tracking`): each rewrite
#   commit's touched files are DIFFED on the tracked row id, so
#   unchanged rows cancel — an OPTIMIZE between micro-batches
#   contributes ZERO rows, an UPDATE emits exactly its touched rows as
#   ``update_preimage``/``update_postimage`` pairs. The diff runs
#   executor-side per STATS GROUP: the row-id column is an identity
#   column, so every file carries its min/max in the manifest, and files
#   of one commit are grouped by overlapping row-id ranges (interval
#   connected components — an appended file's fresh monotone range never
#   overlaps a compacted bin's, so groups stay rewrite-sized). Files
#   without row-id stats (pre-enablement legacy) fall into one catch-all
#   group.
#
# Scale shape: driver touches O(changed files) of log JSON per batch;
# each group reads only its own files through Arrow; rows never pass
# through the driver. The diff within a group is bounded by the rewrite
# granularity (an OPTIMIZE bin / the files one UPDATE touched).


_CDF_TYPE = "_change_type"
_CDF_VERSION = "_commit_version"


def _cdf_schema_json(table_schema_json: str) -> str:
    d = json.loads(table_schema_json)
    d["fields"] = list(d["fields"]) + [
        {"name": _CDF_TYPE, "type": "string", "nullable": False, "metadata": {}},
        {"name": _CDF_VERSION, "type": "long", "nullable": False, "metadata": {}},
    ]
    return json.dumps(d)


class _TxCdfPartition(InputPartition):
    """One CDF split: ``pre``/``post`` are ``[(rel_path, dv_refs)]`` file
    lists of ONE commit (or the initial snapshot). ``kind``:

    - ``insert``: post files stream as insert rows
    - ``filecdf``: pre files as delete rows + post files as insert rows
    - ``diff``: row-keyed local diff of pre vs post on ``row_key``
    """

    def __init__(
        self,
        root: str,
        version: int,
        pre: list[tuple[str, list[str]]],
        post: list[tuple[str, list[str]]],
        table_schema_json: str,
        kind: str,
        row_key: str | None = None,
        key_lo: int | None = None,
        key_hi: int | None = None,
    ):
        self.root = root
        self.version = version
        self.pre = pre
        self.post = post
        self.table_schema_json = table_schema_json
        self.kind = kind
        self.row_key = row_key
        # half-open row-id sub-range [key_lo, key_hi) when a big diff
        # group was split for parallelism — each split keeps only its
        # own ids, so splits never double-emit a change row
        self.key_lo = key_lo
        self.key_hi = key_hi


def _tag_batches(batches, change_type: str, version: int):
    import pyarrow as pa

    for b in batches:
        b = b.append_column(
            _CDF_TYPE, pa.array([change_type] * b.num_rows, type=pa.string())
        )
        yield b.append_column(
            _CDF_VERSION, pa.array([version] * b.num_rows, type=pa.int64())
        )


def _canon_value(v):
    """Canonicalize one cell for NaN-aware row comparison: float NaN maps
    to a fixed sentinel (Python's ``nan != nan`` would otherwise make
    every NaN-bearing UNCHANGED row look updated on every rewrite,
    defeating the 'OPTIMIZE contributes zero rows' guarantee); containers
    recurse so array/map columns with NaN elements compare the same way.
    Spark-side diffs (``tx_diff``) already get this via SQL's NaN-equal
    grouping semantics — this keeps the local diff consistent."""
    if isinstance(v, float):
        return ("__nan__",) if v != v else v
    if isinstance(v, list):
        return [_canon_value(x) for x in v]
    if isinstance(v, tuple):
        # pyarrow's to_pylist renders map<k, v> cells as lists of
        # (key, value) TUPLES — without this branch a NaN map value
        # slips through uncanonicalized and nan != nan resurfaces.
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return {_canon_value(k): _canon_value(x) for k, x in v.items()}
    return v


def _rows_equal(a: tuple, b: tuple) -> bool:
    return all(_canon_value(x) == _canon_value(y) for x, y in zip(a, b))


def _cdf_file_sides(
    part: _TxCdfPartition,
) -> list[tuple[str, list[tuple[str, list[str]]]]]:
    """The ``(change type, files)`` sides of a file-level split, in emit
    order: an ``insert`` split's post files; a ``filecdf`` split's pre
    files as ``delete`` then its post files as ``insert``. Shared by the
    Python reader and the native change-feed manifest
    (`core/sql_serving._native_changes_register`)."""
    if part.kind == "insert":
        return [("insert", part.post)]
    return [("delete", part.pre), ("insert", part.post)]


def _read_cdf_partition(part: _TxCdfPartition):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def _rows_of(files):
        inner = _TxFilesPartition(
            part.root,
            [rel for rel, _ in files],
            part.table_schema_json,
            {rel: dv for rel, dv in files if dv},
        )
        return _read_partition(inner)

    if part.kind in ("insert", "filecdf"):
        for change, files in _cdf_file_sides(part):
            yield from _tag_batches(_rows_of(files), change, part.version)
        return
    # row-keyed diff: unchanged (id, values) pairs cancel
    spark_schema = StructType.fromJson(json.loads(part.table_schema_json))
    names = [f.name for f in spark_schema.fields]
    ki = names.index(part.row_key)

    def _as_map(files):
        out = {}
        for b in files:
            cols = [b.column(i).to_pylist() for i in range(b.num_columns)]
            for row in zip(*cols):
                k = row[ki]
                if part.key_lo is not None and (
                    k < part.key_lo or k >= part.key_hi
                ):
                    continue  # another split owns this id
                out[k] = row
        return out

    pre = _as_map(_rows_of(part.pre))
    post = _as_map(_rows_of(part.post))
    changes: list[tuple[str, tuple]] = []
    for k, row in post.items():
        if k not in pre:
            changes.append(("insert", row))
        elif not _rows_equal(pre[k], row):
            changes.append(("update_preimage", pre[k]))
            changes.append(("update_postimage", row))
    for k, row in pre.items():
        if k not in post:
            changes.append(("delete", row))
    if not changes:
        return
    target = to_arrow_schema(
        StructType.fromJson(json.loads(_cdf_schema_json(part.table_schema_json)))
    )
    data = {
        name: [c[1][i] for c in changes] for i, name in enumerate(names)
    }
    data[_CDF_TYPE] = [c[0] for c in changes]
    data[_CDF_VERSION] = [part.version] * len(changes)
    yield from pa.table(data, schema=target).to_batches(max_chunksize=1 << 16)


class TxCdfStreamReader(DataSourceStreamReader):
    """Version-offset micro-batch planner emitting CHANGE ROWS. Offset
    format matches :class:`TxLogStreamReader` (``{"version": N}``; -1 =
    pre-initial-snapshot sentinel: the first batch streams the resolved
    snapshot as ``insert`` rows, Delta's CDF initial-snapshot shape)."""

    def __init__(self, table_schema_json: str, options: dict):
        self.path = _require_local(options["path"]).rstrip("/")
        self.table_schema_json = table_schema_json
        self.row_keyed = (
            str(options.get("rowkeyed", "false")).lower() == "true"
        )
        self.row_key: str | None = None
        self.row_key_phys: str | None = None
        if self.row_keyed:
            cur = TX.current_version(None, self.path)
            manifest = TX.read_manifest(None, self.path, cur)
            self.row_key = manifest.get("properties", {}).get(
                TX._ROW_TRACKING_PROP
            )
            if not self.row_key:
                raise ValueError(
                    f"rowKeyed change feed needs row tracking enabled at "
                    f"{self.path} (tx_enable_row_tracking first)"
                )
            # per-file stats are keyed by PHYSICAL name on mapped tables
            self.row_key_phys = TX._schema_mapping(manifest["schema"]).get(
                self.row_key, self.row_key
            )
        # a diff group bigger than this splits into row-id sub-ranges so
        # a full-table compaction diffs in PARALLEL tasks instead of one;
        # per-split read amplification is bounded by the files whose stat
        # range overlaps the split (an OPTIMIZE output file spanning the
        # whole range is re-read once per split — the price of bounding
        # per-task memory at scale)
        self.split_bytes = int(
            options.get("diffsplitbytes", str(128 << 20))
        )
        if self.split_bytes < 1:
            raise ValueError("diffSplitBytes must be >= 1")
        self._initial = _initial_offset_from_options(self.path, options)
        mct = options.get("maxcommitspertrigger")
        self.max_commits = int(mct) if mct is not None else None
        if self.max_commits is not None and self.max_commits < 1:
            raise ValueError("maxCommitsPerTrigger must be >= 1")
        # endingVersion/endingTimestamp: BOUNDED-REPLAY AUDIT MODE —
        # batch-reader parity for streams. latestOffset never advances
        # past the cap, so an availableNow run drains exactly the pinned
        # window (s, end] once and terminates; a continuous stream idles
        # at the cap. Commits landing after the cap are never emitted.
        ev = options.get("endingversion")
        et = options.get("endingtimestamp")
        if ev is not None and et is not None:
            raise ValueError("pass endingVersion OR endingTimestamp, not both")
        self.end_version: int | None = None
        if ev is not None or et is not None:
            s = int(self._initial["version"])
            if s < 0:
                raise ValueError(
                    "endingVersion/endingTimestamp needs an explicit "
                    "startingVersion or startingTimestamp (a bounded "
                    "audit window must pin BOTH edges; the snapshot-"
                    "first default resolves its start at run time)"
                )
            if ev is not None:
                self.end_version = int(ev)
            else:
                try:
                    et = float(et)
                except (TypeError, ValueError):
                    pass
                self.end_version = TX.version_at_timestamp(
                    None, self.path, et
                )
            if self.end_version < s + 1:
                raise ValueError(
                    f"endingVersion {self.end_version} precedes "
                    f"startingVersion {s + 1} at {self.path}"
                )
        # admission base: known only from this run's own planning calls —
        # same first-batch-uncapped caveat as the append reader (capping
        # from a guessed base could move the offset backward past the
        # checkpoint and replay change rows)
        self._last_end: int | None = None

    def initialOffset(self) -> dict:
        self._last_end = int(self._initial["version"])
        return dict(self._initial)

    def latestOffset(self) -> dict:
        cur = TX.current_version(None, self.path)
        if cur is None:
            return dict(self._initial)
        last = self._last_end
        if (
            self.max_commits is not None
            and last is not None
            and last >= 0
        ):
            cur = min(cur, last + self.max_commits)
        if self.end_version is not None:
            cur = min(cur, self.end_version)  # bounded-replay cap
        return {"version": cur}

    def commit(self, end: dict) -> None:  # log retention is tx_vacuum's job
        pass

    # -- planning -----------------------------------------------------------

    def _entry_files(self, entries) -> list[tuple[str, list[str]]]:
        return [(f["path"], list(f.get("dv") or [])) for f in entries]

    def _commit_partitions(self, v: int) -> list[_TxCdfPartition]:
        rec = TX.read_commit(None, self.path, v)
        if "files" in rec:  # legacy full-snapshot record: total replace
            prior = (
                TX.read_manifest(None, self.path, v - 1)["files"]
                if v > 1
                else []
            )
            pre_entries, post_entries = prior, rec["files"]
        else:
            prior_by: dict[str, dict] = {}
            adds = rec.get("add", [])
            readds = {f["path"] for f in adds}
            needs_prior = bool(rec.get("truncate") and v > 1) or bool(
                rec.get("remove")
            )
            if not needs_prior:
                # dv-only re-adds still diff against the prior entry
                needs_prior = any(f.get("dv") for f in adds)
            if needs_prior:
                try:
                    prior_by = {
                        f["path"]: f
                        for f in TX.read_manifest(None, self.path, v - 1)[
                            "files"
                        ]
                    }
                except FileNotFoundError:
                    raise RuntimeError(
                        f"change feed needs version {v - 1} of {self.path} "
                        "but it was vacuumed — start a fresh stream"
                    )
            if rec.get("truncate") and v > 1:
                pre_entries = list(prior_by.values())
            else:
                pre_entries = [
                    prior_by[p] for p in rec.get("remove", ()) if p in prior_by
                ]
                # a DV commit re-adds an existing path with a new dv: the
                # prior entry is the pre-image side
                pre_entries += [
                    prior_by[p]
                    for p in sorted(readds & set(prior_by))
                    if p not in rec.get("remove", ())
                ]
            post_entries = adds
        pre = self._entry_files(pre_entries)
        post = self._entry_files(post_entries)
        if not pre:  # pure append
            if not post:
                return []
            return [
                _TxCdfPartition(
                    self.path, v, [], [(rel, dv)],
                    self.table_schema_json, "insert",
                )
                for rel, dv in post
            ]
        if not self.row_keyed:
            return [
                _TxCdfPartition(
                    self.path, v, pre, post, self.table_schema_json, "filecdf"
                )
            ]
        return self._diff_groups(v, pre_entries, post_entries)

    def _diff_groups(
        self, v: int, pre_entries: list[dict], post_entries: list[dict]
    ) -> list[_TxCdfPartition]:
        """Group one commit's touched files by overlapping row-id stat
        ranges; each group diffs locally. A file WITHOUT row-id stats may
        overlap any range, so its presence collapses the commit to ONE
        group (splitting would let a pre-file and its overlapping
        post-file land in different groups — every row would look
        deleted in one and inserted in the other)."""
        items = []  # (side, entry, lo, hi)
        stats_missing = False
        for side, entries in (("pre", pre_entries), ("post", post_entries)):
            for f in entries:
                if f.get("rows") == 0:
                    continue  # an empty file contributes nothing to a diff
                st = (f.get("stats") or {}).get(self.row_key_phys)
                if st is None or st.get("min") is None:
                    stats_missing = True
                    items.append((side, f, None, None))
                else:
                    items.append((side, f, int(st["min"]), int(st["max"])))
        if stats_missing:
            groups: list[list] = [items]
        else:
            items.sort(key=lambda x: (x[2], x[3]))
            groups = []
            hi = None
            for it in items:
                if hi is None or it[2] > hi:
                    groups.append([it])
                    hi = it[3]
                else:
                    groups[-1].append(it)
                    hi = max(hi, it[3])
        parts = []
        for g in groups:
            pre = self._entry_files([e for s, e, _, _ in g if s == "pre"])
            post = self._entry_files([e for s, e, _, _ in g if s == "post"])
            splits = self._range_splits(g)
            if splits is None:
                parts.append(
                    _TxCdfPartition(
                        self.path, v, pre, post, self.table_schema_json,
                        "diff", self.row_key,
                    )
                )
                continue
            for slo, shi in splits:
                sp = self._entry_files(
                    [e for s, e, lo, hi in g
                     if s == "pre" and lo < shi and hi >= slo]
                )
                so = self._entry_files(
                    [e for s, e, lo, hi in g
                     if s == "post" and lo < shi and hi >= slo]
                )
                if sp or so:
                    parts.append(
                        _TxCdfPartition(
                            self.path, v, sp, so, self.table_schema_json,
                            "diff", self.row_key, key_lo=slo, key_hi=shi,
                        )
                    )
        return parts

    _DIFF_SPLIT_MAX = 64

    def _range_splits(self, g) -> list[tuple[int, int]] | None:
        """Half-open row-id sub-ranges for an oversized stats-grouped
        diff, or None when the group is small enough to diff whole."""
        size = max(
            sum(e.get("bytes", 0) for s, e, _, _ in g if s == "pre"),
            sum(e.get("bytes", 0) for s, e, _, _ in g if s == "post"),
        )
        if size <= self.split_bytes:
            return None
        if any(x[2] is None for x in g):
            return None  # stats-less member: range splitting impossible
        lo = min(x[2] for x in g)
        hi = max(x[3] for x in g) + 1  # half-open end
        k = min(
            (size + self.split_bytes - 1) // self.split_bytes,
            self._DIFF_SPLIT_MAX,
            max(hi - lo, 1),
        )
        step = (hi - lo + k - 1) // k
        return [
            (lo + i * step, min(lo + (i + 1) * step, hi)) for i in range(k)
        ]

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s, e = int(start["version"]), int(end["version"])
        self._last_end = max(e, self._last_end if self._last_end is not None else -1)
        parts: list[_TxCdfPartition] = []
        if s < 0:  # initial snapshot as insert rows
            files = TX.read_manifest(None, self.path, e)["files"]
            parts = [
                _TxCdfPartition(
                    self.path, e, [], [(f["path"], list(f.get("dv") or []))],
                    self.table_schema_json, "insert",
                )
                for f in files
            ]
        else:
            for v in _retained_span(self.path, s, e):
                parts.extend(self._commit_partitions(v))
        return parts or [
            _TxCdfPartition(
                self.path, e, [], [], self.table_schema_json, "insert"
            )
        ]

    def read(self, partition: _TxCdfPartition):
        return _read_cdf_partition(partition)


class TxCdfBatchReader(DataSourceReader):
    """BATCH change-feed read — Delta's ``spark.read.format("delta")
    .option("readChangeFeed", "true").option("startingVersion", N)`` /
    ``table_changes(t, N, M)`` twin: the change rows of commits
    ``startingVersion..endingVersion`` (ending defaults to current) as a
    plain DataFrame, same schema and modes as the streaming feed
    (``rowKeyed=true`` diffs rewrites on the tracked row id). Planning
    delegates to the stream planner — one code path for both faces.

    Delta-parity contracts: one of ``startingVersion``/
    ``startingTimestamp`` is REQUIRED (a CDF read with no start is
    ambiguous — Delta raises the same way); an ending bound before the
    start raises; a range the log no longer retains raises 'vacuumed'."""

    def __init__(self, table_schema_json: str, options: dict):
        if (
            options.get("startingversion") is None
            and options.get("startingtimestamp") is None
        ):
            raise ValueError(
                "batch readChangeFeed requires startingVersion or "
                "startingTimestamp (the stream form checkpoints its own "
                "offset; a batch read must say where to start)"
            )
        self._planner = TxCdfStreamReader(table_schema_json, options)
        self.path = self._planner.path
        ev = options.get("endingversion")
        et = options.get("endingtimestamp")
        if ev is not None and et is not None:
            raise ValueError("pass endingVersion OR endingTimestamp, not both")
        self._end: int | None = int(ev) if ev is not None else None
        self._end_ts = et

    def partitions(self) -> Sequence[InputPartition]:
        s = int(self._planner._initial["version"])
        cur = TX.current_version(None, self.path)
        if cur is None:
            raise FileNotFoundError(f"no committed txlog version at {self.path}")
        if self._end_ts is not None:
            et = self._end_ts
            try:
                et = float(et)
            except (TypeError, ValueError):
                pass
            e = TX.version_at_timestamp(None, self.path, et)
        elif self._end is not None:
            e = self._end
            if e > cur:
                raise ValueError(
                    f"endingVersion {e} is beyond the current version {cur} "
                    f"of {self.path}"
                )
        else:
            e = cur
        if e < s + 1:
            # default end: startingVersion may sit EXACTLY ONE past the
            # current version (a feed registered 'from the next commit
            # on', queried before anything new lands) — an EMPTY feed,
            # not an error. Further-out starts and explicit inverted
            # windows are user errors.
            explicit = self._end is not None or self._end_ts is not None
            if not explicit and s == cur:
                e = s  # (s, s]: empty replay range
            elif not explicit:
                raise ValueError(
                    f"startingVersion {s + 1} is more than one beyond the "
                    f"current version {cur} of {self.path}"
                )
            else:
                raise ValueError(
                    f"endingVersion {e} precedes startingVersion {s + 1} "
                    f"at {self.path}"
                )
        parts: list[_TxCdfPartition] = []
        for v in _retained_span(self.path, s, e):
            parts.extend(self._planner._commit_partitions(v))
        return parts or [
            _TxCdfPartition(
                self.path, e, [], [], self._planner.table_schema_json, "insert"
            )
        ]

    def read(self, partition: _TxCdfPartition):
        return _read_cdf_partition(partition)


# format name -> (table path, baked extra options); filled by
# pinned_txlog_source so the SQL DML router (`core.sql_dml`) can resolve
# a catalog table name back to its txlog path in-process. Cross-process
# resolution goes through the TBLPROPERTIES the registration also writes.
_PINNED_SOURCES: dict[str, tuple[str, dict]] = {}


def pinned_txlog_source(
    spark: SparkSession, path: str, extra_options: dict | None = None
) -> str:
    """Register a TABLE-PINNED txlog format and return its name — the
    SQL-serving shim: ``CREATE TABLE db.t USING <returned name>`` then
    resolves the snapshot at every query plan with no options needed
    (catalog tables hand Python data sources an empty option map).
    ``extra_options`` (lowercase keys) bake additional reader options
    into the format the same way — e.g. ``readchangefeed``/
    ``startingversion`` for a named CHANGE-FEED table. Deterministic per
    (path, options) and idempotent (re-registering replaces the entry).
    The dynamic subclass is pickled by value (cloudpickle), so executors
    never need it importable."""
    import hashlib

    register_txlog_source(spark)  # module-by-value pickling + package zip
    norm = path.rstrip("/")
    extra = {str(k).lower(): str(v) for k, v in (extra_options or {}).items()}
    tag = norm + "|" + json.dumps(extra, sort_keys=True)
    fmt = "txlog_t_" + hashlib.sha1(tag.encode()).hexdigest()[:12]
    cls = type(
        f"TxLogPinned_{fmt}",
        (TxLogStreamDataSource,),
        {
            "_pinned_path": norm,
            "_pinned_extra": extra,
            "name": classmethod(lambda c, _f=fmt: _f),
        },
    )
    spark.dataSource.register(cls)
    _PINNED_SOURCES[fmt] = (norm, extra)
    return fmt


def register_txlog_source(spark: SparkSession) -> None:
    """Register the ``txlog`` streaming source on this session (idempotent).

    The Data Source API pickles the source/reader into separate Python
    processes: the task workers (``read``) AND the streaming-source runner
    (offset planning) — the latter does not see ``addPyFile`` includes, so
    shipping the package zip is not enough. Registering this module and the
    txlog module for cloudpickle BY-VALUE serialization makes the pickled
    source self-contained: no process ever needs the package importable."""
    from pyspark import cloudpickle

    import cdk_datalake_analytics_comercial_spark.sources.txlog as _txmod
    import cdk_datalake_analytics_comercial_spark.streaming.source as _me

    cloudpickle.register_pickle_by_value(_me)
    cloudpickle.register_pickle_by_value(_txmod)
    from ..plans.common import ensure_package_on_workers

    ensure_package_on_workers(spark)
    # TxLogBatchReader implements pushFilters (stats/bloom/partition file
    # skipping); with the gate conf left at its false default, Spark FAILS
    # any scan of a pushdown-capable Python source instead of ignoring the
    # hook — so registration (the one path every txlog consumer takes)
    # turns it on. Runtime-settable; harmless for the other readers.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxLogStreamDataSource)


def stream_txlog(
    spark: SparkSession,
    path: str,
    starting_version: int | str | None = None,
    skip_change_commits: bool = False,
    max_files_per_trigger: int | None = None,
    starting_timestamp: str | float | None = None,
    max_bytes_per_trigger: int | None = None,
) -> DataFrame:
    """A streaming DataFrame tailing the txlog table at ``path``."""
    register_txlog_source(spark)
    reader = spark.readStream.format("txlog")
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    if starting_timestamp is not None:
        reader = reader.option("startingTimestamp", str(starting_timestamp))
    if skip_change_commits:
        reader = reader.option("skipChangeCommits", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", str(max_bytes_per_trigger))
    return reader.load(path)


def stream_txlog_changes(
    spark: SparkSession,
    path: str,
    row_keyed: bool = False,
    starting_version: int | str | None = None,
    starting_timestamp: str | float | None = None,
    diff_split_bytes: int | None = None,
    max_commits_per_trigger: int | None = None,
    ending_version: int | None = None,
    ending_timestamp: str | float | None = None,
) -> DataFrame:
    """A streaming CHANGE FEED of the txlog table at ``path`` (Delta's
    ``readChangeFeed`` twin): table columns + ``_change_type`` +
    ``_commit_version``, exactly-once under the Spark checkpoint.
    ``row_keyed=True`` (requires row tracking) diffs rewrites on the
    tracked row id so an OPTIMIZE contributes zero rows and an UPDATE
    emits exactly its touched rows as pre/post image pairs.
    ``ending_version``/``ending_timestamp`` (with an explicit start)
    bound the replay — batch-reader parity: an ``availableNow`` run
    drains exactly the pinned audit window once and terminates; a
    continuous stream idles at the cap."""
    register_txlog_source(spark)
    reader = spark.readStream.format("txlog").option("readChangeFeed", "true")
    if row_keyed:
        reader = reader.option("rowKeyed", "true")
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    if starting_timestamp is not None:
        reader = reader.option("startingTimestamp", str(starting_timestamp))
    if diff_split_bytes is not None:
        reader = reader.option("diffSplitBytes", str(diff_split_bytes))
    if max_commits_per_trigger is not None:
        reader = reader.option(
            "maxCommitsPerTrigger", str(max_commits_per_trigger)
        )
    if ending_version is not None:
        reader = reader.option("endingVersion", str(ending_version))
    if ending_timestamp is not None:
        reader = reader.option("endingTimestamp", str(ending_timestamp))
    return reader.load(path)


def read_txlog_changes(
    spark: SparkSession,
    path: str,
    starting_version: int | str | None = None,
    ending_version: int | None = None,
    starting_timestamp: str | float | None = None,
    ending_timestamp: str | float | None = None,
    row_keyed: bool = False,
    diff_split_bytes: int | None = None,
) -> DataFrame:
    """BATCH change feed of the txlog table at ``path`` — Delta's
    ``table_changes(t, start, end)`` twin: the change rows of commits
    ``starting_version..ending_version`` (ending defaults to the current
    version) as a plain DataFrame with ``_change_type`` +
    ``_commit_version``. One of ``starting_version``/
    ``starting_timestamp`` is required. ``row_keyed=True`` (requires
    :func:`~..sources.txlog.tx_enable_row_tracking`) diffs rewrites on
    the tracked row id, so compactions cancel and updates emit exact
    pre/post pairs."""
    register_txlog_source(spark)
    reader = spark.read.format("txlog").option("readChangeFeed", "true")
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    if ending_version is not None:
        reader = reader.option("endingVersion", str(ending_version))
    if starting_timestamp is not None:
        reader = reader.option("startingTimestamp", str(starting_timestamp))
    if ending_timestamp is not None:
        reader = reader.option("endingTimestamp", str(ending_timestamp))
    if row_keyed:
        reader = reader.option("rowKeyed", "true")
    if diff_split_bytes is not None:
        reader = reader.option("diffSplitBytes", str(diff_split_bytes))
    return reader.load(path)
