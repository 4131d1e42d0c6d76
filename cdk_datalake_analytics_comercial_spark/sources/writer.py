"""Table writers: dynamic partition overwrite, append, merge upsert.

Replaces the reference's Delta sink family (`common_jobs_functions.py:279-349`)
with parquet-native equivalents:

- K1 overwrite  → ``mode("overwrite")`` + ``partitionOverwriteMode=dynamic``
  (same semantics as the reference's `:312`): only partitions present in the
  incoming DataFrame are replaced — at 100 TB a period refresh rewrites just
  the touched ``id_pais/id_periodo`` partitions, never the table.
- K2 append     → ``mode("append")``.
- K3/K4 merge   → Delta MERGE is emulated with a partition-restricted
  read → anti-join → union → dynamic overwrite. The rewrite scope is the set
  of partitions the source touches (collected as a small driver-side list —
  bounded by partition count, not data size), mirroring Delta's file-pruned
  MERGE. For unpartitioned tables the whole table is rewritten (same as a
  Delta MERGE that matches every file).

Merge invariant (SURVEY §7.3.3): the source must be unique on the merge keys;
we pre-dedup defensively, as the reference guarantees via its W1/A6 dedup.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


FORMAT_CONF = "spark.datalake.tableFormat"


def _table_format(spark: SparkSession, is_txlog: bool) -> str:
    """Resolve the storage format for a write to a table:

    - an EXISTING txlog table (``is_txlog``, detected from its ``_txlog``
      log — the reference's ``DeltaTable.isDeltaTable`` probe) always
      stays txlog (format is a property of the table);
    - otherwise the session conf ``spark.datalake.tableFormat`` decides
      what NEW tables are created as (``parquet`` default, ``txlog`` for
      the full Delta-parity surface: versioned commits, time travel, CDF,
      snapshot isolation — the reference's production tables are all
      Delta, `common_jobs_functions.py:271-319`).

    One conf switch therefore routes the whole job layer through the
    transactional format with no job-code changes."""
    if is_txlog:
        return "txlog"
    fmt = spark.conf.get(FORMAT_CONF, "parquet")
    if fmt not in ("parquet", "txlog"):
        raise ValueError(f"{FORMAT_CONF}={fmt!r}: expected parquet or txlog")
    return fmt


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Overwrite write; with partitions this is a *dynamic* partition
    overwrite (reference K1, `common_jobs_functions.py:306-319`). Routes
    through the txlog format when the table (or the session default) is
    txlog — same dynamic-overwrite semantics, transactional commit."""
    from .txlog import is_txlog_table

    spark = df.sparkSession
    if _table_format(spark, is_txlog_table(spark, path)) == "txlog":
        from .txlog import tx_write

        if mode == "append":
            tx_mode = "append"
        else:
            tx_mode = "overwrite_dynamic" if partition_by else "overwrite"
        # the reference opts into Delta schema.autoMerge GLOBALLY for its
        # jobs (`common_jobs_functions.py:116`), so the job layer defaults
        # to evolution-on; flip the conf to get write-time enforcement
        # (direct tx_write callers enforce by default)
        auto = (
            str(
                spark.conf.get("spark.datalake.schemaAutoMerge", "true")
            ).lower()
            == "true"
        )
        tx_write(
            spark, df, path, partition_by=partition_by, mode=tx_mode,
            schema_evolution=auto,
        )
        return
    from .metrics import observe_write

    df, finish = observe_write(df)
    writer = df.write.format("parquet").mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.save(path)
    finish(path)


def insert_into_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Append (reference K2, `common_jobs_functions.py:339-349`)."""
    write_table(df, path, partition_by, mode="append")


def _dedup_on_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keep one row per key tuple. Uses a deterministic arbitrary pick
    (max over a stable struct of the remaining columns) so repeated runs
    agree — the reference's upstream W1 dedup makes this a no-op normally."""
    other = [c for c in df.columns if c not in keys]
    if not other:
        return df.dropDuplicates(keys)
    packed = df.select(*keys, F.struct(*other).alias("_rest"))
    picked = packed.groupBy(*keys).agg(F.max("_rest").alias("_rest"))
    return picked.select(*keys, *[F.col(f"_rest.{c}").alias(c) for c in other])


def _delete_path(spark: SparkSession, path: str) -> None:
    """FS-agnostic recursive delete via the Hadoop FileSystem API (works on
    local paths in tests and on object stores on a cluster)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _stage_and_swap(
    spark: SparkSession,
    merged: DataFrame,
    path: str,
    partition_by: list[str] | None,
) -> None:
    """Crash-safe commit for a merge that rewrites a path it read from.

    The merged result is first written to a durable SIBLING staging dir
    (the target is untouched if anything dies here), then the overwrite of
    the target reads from that staging copy — so a mid-overwrite executor
    loss replays tasks from durable files instead of a vaporized
    ``localCheckpoint`` block, and a driver crash before the swap leaves
    the target fully intact. A crash mid-swap is repaired by re-running the
    merge (idempotent: the source still exists, the rewrite is
    partition-scoped). Orphaned ``.__merge_staging__*`` siblings from hard
    kills are junk outside the table path and never read.
    """
    from .metrics import observe_write

    staging = f"{path.rstrip('/')}.__merge_staging__{uuid.uuid4().hex}"
    observed, finish = observe_write(merged)
    observed.write.format("parquet").save(staging)
    finish(path)
    try:
        _overwrite_from_staging(spark, staging, path, partition_by)
    finally:
        _delete_path(spark, staging)


def _overwrite_from_staging(
    spark: SparkSession,
    staging: str,
    path: str,
    partition_by: list[str] | None,
) -> None:
    """The swap half of the merge commit: plain parquet overwrite of the
    target from the durable staging copy (not ``write_table`` — the merge
    already counted its rows at the staging write). Module-level so the
    crash-safety test can kill the process exactly between stage and swap."""
    restored = spark.read.parquet(staging)
    writer = restored.write.format("parquet").mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.save(path)


def _evolve_schemas(
    target: DataFrame, source: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for MERGE (the reference's
    ``spark.databricks.delta.schema.autoMerge.enabled=true``,
    `common_jobs_functions.py:116`): the merged schema is the UNION of
    target and source columns; either side is null-padded (typed) for
    columns only the other has. Column types come from whichever side owns
    the column (target wins when both have it — Delta rejects type changes,
    we keep the target's)."""
    t_fields = {f.name: f for f in target.schema.fields}
    s_fields = {f.name: f for f in source.schema.fields}
    ordered = list(t_fields) + [c for c in s_fields if c not in t_fields]

    def pad(df: DataFrame, have: dict) -> DataFrame:
        cols = []
        for name in ordered:
            if name in have:
                cols.append(F.col(name))
            else:
                other = t_fields.get(name) or s_fields[name]
                cols.append(F.lit(None).cast(other.dataType).alias(name))
        return df.select(*cols)

    return pad(target, t_fields), pad(source, s_fields)


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    precedence: str | None = None,
    schema_evolution: bool = False,
) -> None:
    """MERGE: matched → update all, not matched → insert all.

    Reference K3 (`common_jobs_functions.py:279-304`:
    ``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` on an equality
    condition over ``keys``).

    ``precedence`` names a version/sequence column for CONDITIONAL update —
    last-writer-wins: a matched target row is replaced only when the source
    row's precedence is ≥ the target's (Delta's
    ``whenMatchedUpdate(condition=...)`` shape). This makes the merge
    commutative over redelivered/reordered batches — the property the
    at-least-once streaming sink needs to converge; without it the default
    source-always-wins semantics apply.
    """
    from .reader import _probe

    _merge_upsert(
        spark, source, path, keys, partition_by, precedence, schema_evolution,
        _probe(spark, path),
    )


def _merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None,
    precedence: str | None,
    schema_evolution: bool,
    kind: str | None,
    target: DataFrame | None = None,
) -> None:
    """:func:`merge_upsert` against a target already probed as ``kind``
    (``reader._probe``); ``target`` is its scan when the caller already
    opened it."""
    if _table_format(spark, kind == "txlog") == "txlog":
        from .txlog import tx_merge

        tx_merge(
            spark, source, path, keys,
            partition_by=partition_by,
            precedence=precedence,
            schema_evolution=schema_evolution,
        )
        return

    if precedence is None:
        source = _dedup_on_keys(source, keys)
    else:
        w = Window.partitionBy(*keys).orderBy(
            F.col(precedence).desc(),
            F.struct(*[c for c in source.columns if c not in keys]).desc(),
        )
        source = (
            source.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    if kind is None:
        write_table(source, path, partition_by)
        return

    if target is None:
        target = spark.read.parquet(path)
    if schema_evolution:
        target, source = _evolve_schemas(target, source)

    if partition_by:
        # Restrict the rewrite to partitions the source touches (file-pruned
        # MERGE): small driver-side collect, one value-tuple per partition.
        touched = [r.asDict() for r in source.select(*partition_by).distinct().collect()]
        if not touched:
            return
        pred = None
        for t in touched:
            clause = None
            for c in partition_by:
                eq = F.col(c).eqNullSafe(F.lit(t[c]))
                clause = eq if clause is None else (clause & eq)
            pred = clause if pred is None else (pred | clause)
        target_slice = target.filter(pred)
    else:
        target_slice = target

    if precedence is None:
        kept = target_slice.join(source.select(*keys), keys, "left_anti")
        merged = kept.unionByName(source.select(*target_slice.columns))
    else:
        # conditional update: one W1 pick per key over target ∪ source,
        # ordered by (precedence, is-source) — source wins precedence ties,
        # so a same-version re-send still updates (Delta `>=` condition).
        tagged = target_slice.withColumn("_src", F.lit(0)).unionByName(
            source.select(*target_slice.columns).withColumn("_src", F.lit(1))
        )
        w = Window.partitionBy(*keys).orderBy(
            F.col(precedence).desc(), F.col("_src").desc()
        )
        merged = (
            tagged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_src", "_rn")
        )
    _stage_and_swap(spark, merged, path, partition_by)


def merge_update_only(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> None:
    """MERGE with ``whenMatchedUpdateAll`` only — unmatched source rows are
    dropped (reference K4, `common_jobs_functions.py:323-337`)."""
    from .reader import _open, _probe

    kind = _probe(spark, path)
    if kind is None:
        return
    target = _open(spark, path, kind)
    source = _dedup_on_keys(source, keys)
    # rows of source that exist in target (these update), rest of target kept
    matched = source.join(target.select(*keys).distinct(), keys, "left_semi")
    _merge_upsert(spark, matched, path, keys, partition_by, None, False, kind, target)


def write_csv_gzip(df: DataFrame, path: str, header: bool = True) -> None:
    """Raw CSV.gz sink (reference K7,
    `utils/extract_data/load_with_query_python.py:288-294`)."""
    df.write.mode("overwrite").option("header", str(header).lower()).option(
        "compression", "gzip"
    ).csv(path)


def vacuum(spark: SparkSession, path: str, retain_hours: float = 100.0) -> int:
    """Parquet-native counterpart of the reference's post-merge
    ``deltaTable.vacuum(N)`` (`common_jobs_functions.py:303,313`): with no
    Delta transaction log there are no unreferenced data files to reap, so
    the reclaimable garbage is exactly the orphaned crash-leftover
    ``.__merge_staging__*`` siblings :func:`_stage_and_swap` could not
    clean. Deletes those older than ``retain_hours`` (age from the
    filesystem modification time — same retention contract as Delta's
    vacuum horizon); returns the number of dirs removed."""
    import time

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    parent = hpath.getParent()
    if parent is None or not fs.exists(parent):
        return 0
    prefix = hpath.getName() + ".__merge_staging__"
    cutoff_ms = (time.time() - retain_hours * 3600.0) * 1000.0
    removed = 0
    for status in fs.listStatus(parent):
        name = status.getPath().getName()
        if (
            name.startswith(prefix)
            and status.isDirectory()
            and status.getModificationTime() < cutoff_ms
        ):
            fs.delete(status.getPath(), True)
            removed += 1
    return removed


def write_symlink_manifest(spark: SparkSession, path: str) -> int:
    """Parquet-native counterpart of the reference's
    ``deltaTable.generate("symlink_format_manifest")``
    (`common_jobs_functions.py:304,314`): writes
    ``_symlink_format_manifest/<partition dirs>/manifest`` text files, one
    data-file URI per line — the layout external readers (e.g. warehouse
    spectrum layers) consume. Listing is driver-side over the FileSystem
    API: one entry per data FILE (not per row), bounded by file count.
    Returns the number of manifest files written."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return 0
    manifest_root = jvm.org.apache.hadoop.fs.Path(path + "/_symlink_format_manifest")
    if fs.exists(manifest_root):
        fs.delete(manifest_root, True)

    # group data files by their partition subdirectory (relative to root)
    groups: dict[str, list[str]] = {}
    stack = [hpath]
    root_uri = fs.makeQualified(hpath).toString().rstrip("/")
    while stack:
        cur = stack.pop()
        for status in fs.listStatus(cur):
            p = status.getPath()
            name = p.getName()
            if name.startswith("_") or name.startswith("."):
                continue
            if status.isDirectory():
                stack.append(p)
            elif name.endswith(".parquet"):
                full = fs.makeQualified(p).toString()
                rel_dir = full[len(root_uri) + 1:].rsplit("/", 1)[0] if "/" in full[len(root_uri) + 1:] else ""
                groups.setdefault(rel_dir, []).append(full)

    written = 0
    for rel_dir, files in groups.items():
        sub = path + "/_symlink_format_manifest" + (f"/{rel_dir}" if rel_dir else "")
        out = jvm.org.apache.hadoop.fs.Path(sub + "/manifest")
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(sub))
        stream = fs.create(out, True)
        try:
            stream.write(("\n".join(sorted(files)) + "\n").encode("utf-8"))
        finally:
            stream.close()
        written += 1
    return written
