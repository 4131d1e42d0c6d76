"""Shared helpers for the query plans."""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.publish import publish_once


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to the Python workers via ``addPyFile``.

    The Arrow-kernel queries (`mapInPandas`/`pandas_udf`) pickle their
    closures BY MODULE REFERENCE, so a worker must be able to import
    ``cdk_datalake_analytics_comercial_spark``. That import works for free when the driver's
    cwd is the repo (workers inherit it on local mode) but breaks for a
    harness that imports ``__spark_entry__`` from elsewhere. Shipping the
    package zip (:func:`package_zip`) once per session makes the contract
    location-independent; repeated calls are no-ops."""
    sc = spark.sparkContext
    if getattr(sc, "_spark_graft_pkg_shipped", False):
        return
    sc.addPyFile(package_zip())
    sc._spark_graft_pkg_shipped = True


def package_zip() -> str:
    """A zip of the package's ``.py`` files, built once per content under
    ``<tempdir>/cdk_datalake_analytics_comercial_spark_pkg_<key>`` (the
    key hashes each file's relative path, size and ``mtime_ns``), so
    sessions over an unchanged checkout share one zip."""
    import cdk_datalake_analytics_comercial_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    name = os.path.basename(pkg_dir)
    files = sorted(
        os.path.relpath(os.path.join(root, f), pkg_dir)
        for root, _dirs, names in os.walk(pkg_dir)
        for f in names
        if f.endswith(".py")
    )
    key = hashlib.sha1()
    for rel in files:
        st = os.stat(os.path.join(pkg_dir, rel))
        key.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}|".encode())

    def build(tmp: str) -> None:
        with zipfile.ZipFile(
            os.path.join(tmp, f"{name}.zip"), "w", zipfile.ZIP_STORED
        ) as zf:
            for rel in files:
                zf.write(os.path.join(pkg_dir, rel), os.path.join(name, rel))

    final = os.path.join(
        tempfile.gettempdir(), f"{name}_pkg_{key.hexdigest()[:16]}"
    )
    return os.path.join(publish_once(final, build), f"{name}.zip")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table (TESTDATA.md layout)."""
    ensure_package_on_workers(spark)
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) — not readable as a Spark
        # timestamp; read as nanosecond longs (session-safe: set here so the
        # driver's own SparkSession gets it too).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def corpus_fixture_path(sf_dir: str, table: str, name: str, tag: str) -> str:
    """``<tempdir>/spark_graft_<name>_<key>``: the scratch dir of a fixture
    built from testdata ``table``. The key hashes each file's (basename,
    size, ``mtime_ns``) plus ``tag`` (the fixture's build recipe), so a
    corpus regenerated in place — even at the same size within the same
    second — never reuses a fixture built from the old bytes."""
    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    files = (
        sorted(os.path.join(src, f) for f in os.listdir(src))
        if os.path.isdir(src)
        else [src]
    )
    parts = []
    for p in files:
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    key = hashlib.sha1(
        f"{src}|{'|'.join(parts)}|{tag}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_{key}")


def corpus_fixture(
    sf_dir: str, table: str, name: str, tag: str, build: Callable[[str], object]
) -> str:
    """The fixture dir of :func:`corpus_fixture_path`, built once by
    ``build(tmp)`` and published atomically (``core.publish.publish_once``).
    A cold, build-inclusive run points ``TMPDIR`` at an empty dir."""
    return publish_once(corpus_fixture_path(sf_dir, table, name, tag), build)


def lake_db(sf_dir: str) -> str:
    """The serving database of one testdata directory."""
    return "lake_" + hashlib.sha1(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:8]


def period_yyyymm(col: Column | str) -> Column:
    """``yyyyMM`` period string via integer date arithmetic —
    ``(year·100 + month) :: string`` is byte-identical to
    ``date_format(col, 'yyyyMM')`` for 4-digit years and ~20% cheaper on the
    pre-aggregation hot path (no per-row formatter)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.year(c) * 100 + F.month(c)).cast("string")


def dsum_to_double(sum_dec: Column) -> Column:
    """High-scale decimal aggregate → double, via decimal(20,6).

    Casting decimal(38,12+) straight to double diverges between engines (the
    scaled int128 exceeds 2^53 and DuckDB's int128→double path rounds twice);
    at scale 6 / precision 20 the scaled integer fits in 2^53 for any value
    the pipelines produce, so the final division is a single correctly-rounded
    IEEE op in both engines. Oracle twin:
    ``CAST(CAST(SUM(...) AS DECIMAL(20,6)) AS DOUBLE)``.
    """
    return sum_dec.cast("decimal(20,6)").cast("double")


def dsum(col: Column, scale: int = 6) -> Column:
    """Exact decimal sum surfaced as double (see functions.casts.decimal_sum):
    order-independent, hash-identical across engines."""
    return F.sum(col.cast(f"decimal(38,{scale})")).cast("double")


def dmul2(a: Column, b: Column) -> Column:
    """Exact two-factor product in decimal(12,6) — covers TPC-H-ish money
    magnitudes (< 10^6) with 6dp, exact in both Spark and DuckDB."""
    return a.cast("decimal(12,6)") * b.cast("decimal(12,6)")


def hll_oracle_sql(pairs_sql: str, group_col: str, p: int = 8) -> str:
    """DuckDB twin of ``operators.sketches.hll_distinct`` over an arbitrary
    pairs CTE: ``pairs_sql`` must SELECT ``{group_col}`` and a value column
    ``v`` (already DISTINCT per group). Output columns: the group col,
    hll_buckets_used, hll_estimate — same integer-exact register math as
    the Spark side (shared quantities, same literal constants)."""
    from ..operators.sketches import hll_alpha

    m = 1 << p
    rmax = 61 - p
    alpha_num = repr(hll_alpha(m) * m * m * float(1 << rmax))
    h60 = (
        "CAST(list_sum(list_transform(range(1, 16), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5(CAST(v AS VARCHAR)), i, 1)) - 1 AS BIGINT)"
        " << (4 * (15 - i)))) AS BIGINT)"
    )
    return f"""
WITH pairs AS ({pairs_sql}
), hashed AS (
  SELECT {group_col}, {h60} AS h FROM pairs
), rhos AS (
  SELECT {group_col}, h & {m - 1} AS bucket,
         CASE WHEN (h >> {p}) > 0 THEN {rmax} - length(bin(h >> {p})) ELSE {rmax} END AS rho
  FROM hashed
), regs AS (
  SELECT {group_col}, bucket, MAX(rho) AS reg FROM rhos GROUP BY {group_col}, bucket
), hagg AS (
  SELECT {group_col},
         CAST(SUM(CAST(1 AS BIGINT) << ({rmax} - reg)) AS BIGINT) AS s_int,
         CAST(COUNT(*) AS BIGINT) AS present
  FROM regs GROUP BY {group_col}
)
SELECT {group_col}, present AS hll_buckets_used,
       ROUND(CASE WHEN ({alpha_num} / CAST(({m} - present) * {1 << rmax} + s_int AS DOUBLE)) <= {2.5 * m}
                   AND ({m} - present) > 0
             THEN {float(m)} * ln({float(m)} / CAST({m} - present AS DOUBLE))
             ELSE {alpha_num} / CAST(({m} - present) * {1 << rmax} + s_int AS DOUBLE)
             END, 4) AS hll_estimate
FROM hagg
"""
