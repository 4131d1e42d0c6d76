"""Table readers: layered parquet scan, multi-instance union, CSV, JDBC.

Replaces `common_jobs_functions.py:222-277` (``read_table``) minus the AWS
coupling. Storage format is parquet (columnar, predicate-pushdown +
partition-pruning capable); the catalog abstracts the path scheme so the same
code runs on local FS and ``s3a://``.

Scale notes:
- Resolving a table is one directory probe (:func:`_probe`): a listing of
  its txlog log (on disk or in the registered LogStore), then of its data
  files when it has no committed log. No Spark job and no data-file footer
  is touched to decide whether a table exists.
- The schema registry is authoritative for stage schemas, as the
  reference's DynamoDB registry is for its Delta stage tables: a registered
  stage table is scanned with ``spark.read.schema(registry.schema(t))``, so
  resolving it launches no Spark job, and a present and an absent table
  (the empty-table fallback, SURVEY S3) share one schema by construction.
  A registered column missing from a file reads as NULL (the same padding
  the multi-instance union gives a drifted instance); a file column whose
  type conflicts with the registry fails loudly when the scan runs (the
  parquet reader refuses the conversion), never silently re-typed; a file
  column the registry does not list is dropped from the scan (the registry,
  not the file, defines the table's columns — unlike the unregistered
  multi-instance union, which carries a drifted instance's extra column).
- Tables without a registry entry (domain/analytics outputs, unregistered
  stage tables) infer their schema once, from the data files.
- The multi-instance union is a metadata-only plan operation (``unionByName``
  of N scans); Catalyst pushes filters/projections into every branch.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core.catalog import Catalog, Layer
from .registry import SchemaRegistry


def _entries(spark: SparkSession, path: str) -> list[tuple[str, bool]] | None:
    """``(name, is_dir)`` of the children of ``path``; None when ``path`` is
    not a directory. Local paths list with one ``os.scandir`` (the py4j
    round trip per entry would dominate); others use the Hadoop FS API."""
    from .txlog import _as_local_dir, _fs

    local = _as_local_dir(path)
    if local is not None:
        try:
            with os.scandir(local) as it:
                return [(e.name, e.is_dir()) for e in it]
        except (FileNotFoundError, NotADirectoryError):
            return None
    fs, p, _ = _fs(spark, path)
    if not fs.exists(p) or not fs.getFileStatus(p).isDirectory():
        return None
    return [(s.getPath().getName(), s.isDirectory()) for s in fs.listStatus(p)]


def _has_data(spark: SparkSession, path: str, entries) -> bool:
    """True at the first visible data file under ``path`` (partition dirs
    are walked depth-first; ``_``/``.``-prefixed names are hidden, as in
    Spark's own file index)."""
    for name, is_dir in entries:
        if name.startswith(("_", ".")):
            continue
        if not is_dir:
            return True
        sub = f"{path.rstrip('/')}/{name}"
        if _has_data(spark, sub, _entries(spark, sub) or []):
            return True
    return False


def _probe(spark: SparkSession, path: str) -> str | None:
    """Classify a table dir: ``"txlog"`` when it has a committed log (the
    reference's ``DeltaTable.isDeltaTable`` probe; the log may live in a
    registered LogStore with no ``_txlog`` dir on disk, so the log is asked
    first), ``"parquet"`` when it holds a data file, None when it is absent
    or empty (no dir, or only ``_SUCCESS``/hidden files)."""
    from .txlog import is_txlog_table

    if is_txlog_table(spark, path):
        return "txlog"
    entries = _entries(spark, path)
    return "parquet" if entries and _has_data(spark, path, entries) else None


def _open(
    spark: SparkSession, path: str, kind: str, schema: T.StructType | None = None
) -> DataFrame:
    """Scan a table dir :func:`_probe` classified as ``kind``. txlog tables
    resolve their current manifest (a raw parquet scan of a txlog dir would
    union every batch ever written, superseded ones included); parquet dirs
    scan with ``schema`` when given (no Spark job) and infer it from the
    files otherwise (one job)."""
    if kind == "txlog":
        from .txlog import tx_read

        return tx_read(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _scan(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """The table at ``path`` after one :func:`_probe`, or None if absent."""
    kind = _probe(spark, path)
    return None if kind is None else _open(spark, path, kind, schema)


def table_exists(spark: SparkSession, path: str) -> bool:
    """True if ``path`` holds a readable table (reference ``table_exists``,
    `common_jobs_functions.py:351-356`, done via Delta log probe there)."""
    return _probe(spark, path) is not None


def read_table(
    spark: SparkSession,
    catalog: Catalog,
    layer: Layer | str,
    table: str,
    instances: list[str] | None = None,
    registry: SchemaRegistry | None = None,
    principal_only: bool = False,
) -> DataFrame:
    """Read a layer table.

    - Single-instance layers (domain/analytics): one parquet dir scan
      (reference S1, `common_jobs_functions.py:271`).
    - Stage: one dir per source endpoint; all instances are read and
      ``unionByName``-ed (reference S2, `:231-268`, union at `:268`).
      ``instances=None`` → discover from the filesystem catalog. A stage
      table the registry knows is scanned with the registered schema.
    - ``principal_only=True``: restrict discovery to endpoints flagged
      principal in the layer's ``_endpoints.json`` — the reference's
      ``have_principal=True`` (`common_jobs_functions.py:241-243`), used
      for shared masters replicated to every endpoint (``m_pais``,
      ``m_parametro``, …) where unioning all copies would duplicate rows.
      Ignored when ``instances`` is passed explicitly.
    - Absent everywhere → empty DataFrame with the registered schema
      (reference S3, `:124-217`); raises if no registry can answer.
    """
    layer = Layer(layer) if not isinstance(layer, Layer) else layer

    if layer == Layer.STAGE:
        schema = (
            registry.schema(table)
            if registry is not None and table in registry.tables
            else None
        )
        if instances is None:
            instances = catalog.instances(layer, table, principal_only=principal_only)
        paths = [catalog.table_path(layer, table, i) for i in instances]
        dfs = [df for df in (_scan(spark, p, schema) for p in paths) if df is not None]
        if not dfs and catalog.is_table_dir(layer, table):
            # single-instance stage layout (no endpoint subdirs)
            df = _scan(spark, catalog.table_path(layer, table), schema)
            dfs = [df] if df is not None else []
        if dfs:
            return functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
            )
    else:
        df = _scan(spark, catalog.table_path(layer, table))
        if df is not None:
            return df

    if registry is not None:
        return registry.empty_dataframe(spark, table)
    raise FileNotFoundError(
        f"table {layer.value}/{table} not found and no schema registry fallback"
    )


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ";",
    header: bool = True,
    schema=None,
) -> DataFrame:
    """CSV scan (reference S4, `common_jobs_functions.py:225-229`:
    ``;``-delimited with header, or schema-supplied ``,``-CSV)."""
    reader = spark.read.format("csv").option("delimiter", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("header", str(header).lower()).option("inferSchema", "true")
    return reader.load(path)


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 30,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Partitioned JDBC scan — replaces the reference's hand-rolled extractor
    (min/max of ``PARTITION_COLUMN`` → 30 integer ranges → ThreadPool,
    `utils/extract_data/load_with_query_python.py:438-525`) with Spark's
    built-in range-partitioned JDBC source; 30 partitions mirrors
    ``number_threads=30`` (`:459`)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def _parse_extract_dt(v):
    """The extractor's fixed-position datetime parse
    (`utils/extract_data/load_with_query_python.py:223-233`,
    ``transform_to_dt``): 'YYYY-MM-DD HH:MM:SS' by slicing."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime.combine(v, _dt.time.min)
    s = str(v)
    return _dt.datetime(
        year=int(s[:4]), month=int(s[5:7]), day=int(s[8:10]),
        hour=int(s[11:13]), minute=int(s[14:16]), second=int(s[17:19]),
    )


def _render_bound(dtv, filter_type):
    """Render one range boundary as a source-dialect SQL literal — the
    extractor's ``change_date_format`` (`load_with_query_python.py:
    379-395`: CONVERT(smalldatetime,…) / TO_DATE(…) per FILTER_TYPE) plus
    the BigMagic integer-day encoding its ``aje_date`` filters use."""
    s = str(dtv)[:19]
    if callable(filter_type):
        return filter_type(dtv)
    if filter_type == "timestamp":  # ANSI / Derby / Postgres
        return f"TIMESTAMP('{s}')"
    if filter_type == "timestamp_literal":  # ANSI standard literal form
        return f"TIMESTAMP '{s}'"
    if filter_type == "smalldatetime":  # SQL Server (reference :382)
        return f"CONVERT(smalldatetime, '{s}', 120)"
    if filter_type == "DATE":  # Oracle (reference :385)
        return f"TO_DATE('{s}', 'YYYY-MM-DD HH24:MI:SS')"
    if filter_type == "magic_1900":  # BigMagic integer days, 1900 pivot
        from ..core.magic_dates import py_date_to_magic_1900

        return str(py_date_to_magic_1900(dtv.date()))
    if filter_type == "magic_2008":  # BigMagic integer days, 2008 pivot
        from ..core.magic_dates import py_date_to_magic_2008

        return str(py_date_to_magic_2008(dtv.date()))
    raise ValueError(f"unknown filter_type {filter_type!r}")


def read_jdbc_between_date(
    spark: SparkSession,
    url: str,
    table: str,
    filter_column: str,
    start,
    end,
    num_partitions: int = 1,
    filter_type="timestamp",
    secondary_column: str | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """The reference's ``between-date`` incremental extraction strategy
    (`utils/extract_data/load_with_query_python.py:485-517`): the
    [start, end] window splits into ``num_partitions`` equal time slices
    (``delta = (end-start)/threads``, `:508-517`), each pushed into the
    source as a WHERE range on ``filter_column`` (`:357-377`,
    ``get_query_for_date_range``) — here as Spark JDBC ``predicates``,
    one source-side query per partition, instead of a hand-rolled
    ThreadPool.

    Two deliberate fixes over the reference's task generation:

    - slices are HALF-OPEN ``[lo, hi)`` (the last closes at ``end``): the
      reference's inclusive ``BETWEEN`` with second-truncated boundaries
      extracts a row sitting exactly on a slice boundary TWICE;
    - the two-column form (reference: ``(c1 BETWEEN …) OR (c2 BETWEEN
      …)`` with the SAME slice on both columns, which also duplicates
      across slices) partitions on the primary column and routes rows
      matching only on ``secondary_column`` through the slice where the
      secondary falls, excluded when the primary already matched — same
      overall row set, each row exactly once.

    ``filter_type`` renders boundaries in the source dialect
    (``timestamp`` | ``timestamp_literal`` | ``smalldatetime`` |
    ``DATE`` | ``magic_1900`` | a callable ``datetime -> SQL literal``).
    """
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    s_dt, e_dt = _parse_extract_dt(start), _parse_extract_dt(end)
    if e_dt <= s_dt:
        raise ValueError(f"end {e_dt} must be after start {s_dt}")
    delta = (e_dt - s_dt) / num_partitions
    bounds = [s_dt + delta * i for i in range(num_partitions)] + [e_dt]
    lit = [_render_bound(b, filter_type) for b in bounds]
    lo_all, hi_all = lit[0], lit[-1]

    def _rng(col, lo, hi, last):
        cmp_hi = "<=" if last else "<"
        return f"{col} IS NOT NULL AND {col} >= {lo} AND {col} {cmp_hi} {hi}"

    preds = []
    for i in range(num_partitions):
        last = i == num_partitions - 1
        p = _rng(filter_column, lit[i], lit[i + 1], last)
        if secondary_column:
            primary_in = (
                f"{filter_column} IS NOT NULL AND {filter_column} >= "
                f"{lo_all} AND {filter_column} <= {hi_all}"
            )
            p = (
                f"({p}) OR ({_rng(secondary_column, lit[i], lit[i + 1], last)}"
                f" AND NOT ({primary_in}))"
            )
        preds.append(p)
    return spark.read.jdbc(
        url, table, predicates=preds, properties=dict(properties or {})
    )
