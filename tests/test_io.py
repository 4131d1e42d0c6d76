"""IO tests: catalog resolution, multi-instance stage union, empty-table
fallback, dynamic partition overwrite isolation, merge upsert idempotence
(SURVEY §5 property tests)."""

import os

import pytest
from pyspark.sql import functions as F

from cdk_datalake_analytics_comercial_spark.core.catalog import Catalog, Layer
from cdk_datalake_analytics_comercial_spark.sources.reader import read_table, table_exists
from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry, parse_type
from cdk_datalake_analytics_comercial_spark.sources.writer import (
    insert_into_table,
    merge_update_only,
    merge_upsert,
    write_table,
)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_catalog_paths(lake):
    assert lake.table_path(Layer.DOMAIN, "m_cliente").endswith("domain/m_cliente")
    assert lake.table_path("stage", "venta", "pe01").endswith("stage/venta/pe01")


def test_parse_type():
    assert parse_type("numeric(38,12)").simpleString() == "decimal(38,12)"
    assert parse_type("varchar").simpleString() == "string"
    assert parse_type("array<float>").simpleString() == "array<float>"
    assert parse_type("wat") .simpleString() == "string"


def test_multi_instance_union(spark, lake):
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "id int, v string")
    df1.write.parquet(lake.table_path(Layer.STAGE, "t", "inst1"))
    df2.write.parquet(lake.table_path(Layer.STAGE, "t", "inst2"))
    out = read_table(spark, lake, Layer.STAGE, "t")
    assert rows(out) == [(1, "a"), (2, "b"), (3, "c")]


def test_multi_instance_union_missing_columns(spark, lake):
    # instances can drift in schema; unionByName(allowMissingColumns) pads
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2,)], "id int")
    df1.write.parquet(lake.table_path(Layer.STAGE, "t", "i1"))
    df2.write.parquet(lake.table_path(Layer.STAGE, "t", "i2"))
    out = read_table(spark, lake, Layer.STAGE, "t")
    assert rows(out) == [(1, "a"), (2, None)]


def test_empty_table_fallback(spark, lake):
    reg = SchemaRegistry({"ghost": [("id", "int"), ("name", "varchar")]})
    out = read_table(spark, lake, Layer.DOMAIN, "ghost", registry=reg)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "name"]
    # joins against the fabricated empty table must not drop columns
    other = spark.createDataFrame([(1, "x")], "id int, x string")
    joined = other.join(out, "id", "left")
    assert joined.columns == ["id", "x", "name"]
    assert rows(joined) == [(1, "x", None)]


def test_missing_table_without_registry_raises(spark, lake):
    with pytest.raises(FileNotFoundError):
        read_table(spark, lake, Layer.DOMAIN, "nope")


def test_dynamic_partition_overwrite_isolation(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_part")
    base = spark.createDataFrame(
        [("PE", "202401", 1), ("PE", "202402", 2), ("CO", "202401", 3)],
        "id_pais string, id_periodo string, v int",
    )
    write_table(base, path, ["id_pais", "id_periodo"])
    # overwrite only the (PE, 202402) partition; others must survive
    patch = spark.createDataFrame(
        [("PE", "202402", 99)], "id_pais string, id_periodo string, v int"
    )
    write_table(patch, path, ["id_pais", "id_periodo"])
    out = spark.read.parquet(path).select("id_pais", "id_periodo", "v")
    assert rows(out) == [("CO", "202401", 3), ("PE", "202401", 1), ("PE", "202402", 99)]


def test_append(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_app")
    df = spark.createDataFrame([(1,)], "v int")
    write_table(df, path)
    insert_into_table(spark.createDataFrame([(2,)], "v int"), path)
    assert rows(spark.read.parquet(path)) == [(1,), (2,)]


def test_merge_upsert_semantics(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_merge")
    target = spark.createDataFrame(
        [("k1", "PE", 1), ("k2", "PE", 2)], "id string, id_pais string, v int"
    )
    write_table(target, path, ["id_pais"])
    src = spark.createDataFrame(
        [("k2", "PE", 20), ("k3", "PE", 30)], "id string, id_pais string, v int"
    )
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    out = spark.read.parquet(path).select("id", "id_pais", "v")
    assert rows(out) == [("k1", "PE", 1), ("k2", "PE", 20), ("k3", "PE", 30)]


def test_merge_upsert_idempotent(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_idem")
    src = spark.createDataFrame(
        [("a", "PE", 1), ("b", "CO", 2)], "id string, id_pais string, v int"
    )
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    first = rows(spark.read.parquet(path).select("id", "id_pais", "v"))
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    second = rows(spark.read.parquet(path).select("id", "id_pais", "v"))
    assert first == second == [("a", "PE", 1), ("b", "CO", 2)]


def test_merge_untouched_partitions_survive(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_scope")
    base = spark.createDataFrame(
        [("a", "PE", 1), ("b", "CO", 2)], "id string, id_pais string, v int"
    )
    write_table(base, path, ["id_pais"])
    merge_upsert(
        spark,
        spark.createDataFrame([("a", "PE", 10)], "id string, id_pais string, v int"),
        path,
        keys=["id"],
        partition_by=["id_pais"],
    )
    out = spark.read.parquet(path).select("id", "id_pais", "v")
    assert rows(out) == [("a", "PE", 10), ("b", "CO", 2)]


def test_merge_source_dedup(spark, lake):
    # duplicate source keys must not fan out (Delta MERGE would throw;
    # we pre-dedup deterministically — SURVEY §7.3.3)
    path = lake.table_path(Layer.DOMAIN, "t_dupe")
    src = spark.createDataFrame(
        [("a", "PE", 1), ("a", "PE", 2)], "id string, id_pais string, v int"
    )
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    out = spark.read.parquet(path)
    assert out.count() == 1


def test_merge_update_only(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_upd")
    write_table(
        spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int"), path
    )
    src = spark.createDataFrame([("b", 20), ("c", 30)], "id string, v int")
    merge_update_only(spark, src, path, keys=["id"])
    out = spark.read.parquet(path).select("id", "v")
    # b updated, c NOT inserted (whenMatchedUpdateAll only)
    assert rows(out) == [("a", 1), ("b", 20)]


def test_table_exists(spark, lake):
    path = lake.table_path(Layer.DOMAIN, "t_ex")
    assert not table_exists(spark, path)
    write_table(spark.createDataFrame([(1,)], "v int"), path)
    assert table_exists(spark, path)


def test_merge_crash_before_swap_leaves_target_intact(spark, lake):
    # crash-safety contract of _stage_and_swap: if the process dies after
    # the merge is computed but before the target overwrite starts, the
    # target is byte-for-byte intact and a rerun completes the merge
    from unittest import mock

    from cdk_datalake_analytics_comercial_spark.sources import writer as W

    path = lake.table_path(Layer.DOMAIN, "t_crash")
    target = spark.createDataFrame(
        [("k1", "PE", 1), ("k2", "PE", 2)], "id string, id_pais string, v int"
    )
    write_table(target, path, ["id_pais"])
    src = spark.createDataFrame([("k2", "PE", 20)], "id string, id_pais string, v int")

    calls = {"n": 0}

    def dying_swap(spark_, staging, p, partition_by=None):
        # die right before the target overwrite; the staging write already
        # happened (asserted below) so this is the stage/swap boundary
        calls["n"] += 1
        calls["staging_rows"] = spark_.read.parquet(staging).count()
        raise RuntimeError("simulated crash before target overwrite")

    with mock.patch.object(W, "_overwrite_from_staging", side_effect=dying_swap):
        with pytest.raises(RuntimeError, match="simulated crash"):
            merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    assert calls["n"] == 1  # the swap was attempted
    assert calls["staging_rows"] == 2  # ...with the full merged result staged
    # target untouched by the failed merge
    out = spark.read.parquet(path).select("id", "id_pais", "v")
    assert rows(out) == [("k1", "PE", 1), ("k2", "PE", 2)]
    # rerunning the same merge (the recovery story) lands the update
    merge_upsert(spark, src, path, keys=["id"], partition_by=["id_pais"])
    out = spark.read.parquet(path).select("id", "id_pais", "v")
    assert rows(out) == [("k1", "PE", 1), ("k2", "PE", 20)]


def test_merge_staging_is_durable_and_cleaned(spark, lake):
    # the merge's overwrite input must come from a durable staging dir (not
    # executor-memory checkpoint), and the staging dir must be cleaned up
    import glob

    from cdk_datalake_analytics_comercial_spark.sources import writer as W

    path = lake.table_path(Layer.DOMAIN, "t_stage_clean")
    write_table(
        spark.createDataFrame([("a", "PE", 1)], "id string, id_pais string, v int"),
        path,
        ["id_pais"],
    )
    from unittest import mock

    # with cleanup disabled, the staging dir must remain on disk as real
    # parquet files — proof the overwrite's input was durable storage
    with mock.patch.object(W, "_delete_path", lambda s, p: None):
        merge_upsert(
            spark,
            spark.createDataFrame([("b", "PE", 2)], "id string, id_pais string, v int"),
            path,
            keys=["id"],
            partition_by=["id_pais"],
        )
    staged = glob.glob(f"{path}.__merge_staging__*")
    assert len(staged) == 1
    assert glob.glob(f"{staged[0]}/*.parquet") or glob.glob(
        f"{staged[0]}/**/*.parquet", recursive=True
    )
    staged_rows = rows(spark.read.parquet(staged[0]).select("id", "id_pais", "v"))
    assert ("b", "PE", 2) in staged_rows
    out = spark.read.parquet(path).select("id", "id_pais", "v")
    assert rows(out) == [("a", "PE", 1), ("b", "PE", 2)]
    # a normal merge cleans its staging dir
    merge_upsert(
        spark,
        spark.createDataFrame([("c", "PE", 3)], "id string, id_pais string, v int"),
        path,
        keys=["id"],
        partition_by=["id_pais"],
    )
    assert glob.glob(f"{path}.__merge_staging__*") == staged  # only the kept one


def test_vacuum_reaps_only_stale_staging(spark, lake):
    from cdk_datalake_analytics_comercial_spark.sources.writer import vacuum

    path = lake.table_path(Layer.DOMAIN, "t_vac")
    write_table(
        spark.createDataFrame([("a", "PE", 1)], "id string, id_pais string, v int"),
        path,
        ["id_pais"],
    )
    # fabricate two orphaned staging dirs: one stale, one fresh
    stale = f"{path}.__merge_staging__deadbeef"
    fresh = f"{path}.__merge_staging__cafebabe"
    for p in (stale, fresh):
        os.makedirs(p, exist_ok=True)
        with open(f"{p}/part-00000.parquet", "wb") as f:
            f.write(b"x")
    old = 1_600_000_000  # 2020 — well past any retention horizon
    os.utime(stale, (old, old))
    removed = vacuum(spark, path, retain_hours=1.0)
    assert removed == 1
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)        # inside the retention horizon
    assert os.path.exists(path)         # the table itself is never touched
    # retention 0 reaps the rest
    assert vacuum(spark, path, retain_hours=-1.0) == 1
    assert not os.path.exists(fresh)


def test_symlink_manifest_lists_every_data_file(spark, lake):
    from cdk_datalake_analytics_comercial_spark.sources.writer import (
        write_symlink_manifest,
    )

    path = lake.table_path(Layer.DOMAIN, "t_manifest")
    df = spark.createDataFrame(
        [("a", "PE", 1), ("b", "CO", 2)], "id string, id_pais string, v int"
    )
    write_table(df, path, ["id_pais"])
    n = write_symlink_manifest(spark, path)
    assert n == 2  # one manifest per partition dir
    import glob

    manifests = sorted(glob.glob(f"{path}/_symlink_format_manifest/**/manifest",
                                 recursive=True))
    assert len(manifests) == 2
    listed = []
    for m in manifests:
        with open(m) as f:
            listed += [line.strip() for line in f if line.strip()]
    actual = {p for p in glob.glob(f"{path}/id_pais=*/*.parquet")}
    # every real data file appears exactly once (URIs end with the rel path)
    assert len(listed) == len(actual)
    for a in actual:
        assert any(entry.endswith(a.split(str(lake.root))[-1]) or a in entry
                   for entry in listed), a
    # the manifest dir itself is excluded from table reads (underscore prefix)
    assert spark.read.parquet(path).count() == 2
    # regenerating replaces, not appends
    assert write_symlink_manifest(spark, path) == 2


def test_merge_schema_evolution_new_source_column(spark, tmp_path):
    """autoMerge parity (common_jobs_functions.py:116): a source with a NEW
    column merges cleanly — existing rows null-pad, updated/inserted rows
    carry the value. Without the flag the new column is dropped (legacy
    strict behavior preserved)."""
    from cdk_datalake_analytics_comercial_spark.sources.writer import merge_upsert

    p = str(tmp_path / "evo")
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        p, keys=["k"],
    )
    src = spark.createDataFrame(
        [(2, "B", 20), (3, "c", 30)], "k long, v string, extra int"
    )
    merge_upsert(spark, src, p, keys=["k"], schema_evolution=True)
    got = {r["k"]: (r["v"], r["extra"]) for r in spark.read.parquet(p).collect()}
    assert got == {1: ("a", None), 2: ("B", 20), 3: ("c", 30)}

    # strict mode: an extra source column is dropped, table schema unchanged
    merge_upsert(
        spark,
        spark.createDataFrame(
            [(4, "d", 40, 1.5)], "k long, v string, extra int, other double"
        ),
        p, keys=["k"],
    )
    assert set(spark.read.parquet(p).columns) == {"k", "v", "extra"}


def test_merge_schema_evolution_missing_source_column(spark, tmp_path):
    """Source missing a target column: evolution pads it with typed nulls
    for inserted rows instead of failing."""
    from cdk_datalake_analytics_comercial_spark.sources.writer import merge_upsert

    p = str(tmp_path / "evo2")
    merge_upsert(
        spark,
        spark.createDataFrame([(1, "a", 10)], "k long, v string, extra int"),
        p, keys=["k"],
    )
    merge_upsert(
        spark,
        spark.createDataFrame([(2, "b")], "k long, v string"),
        p, keys=["k"], schema_evolution=True,
    )
    got = {r["k"]: (r["v"], r["extra"]) for r in spark.read.parquet(p).collect()}
    assert got == {1: ("a", 10), 2: ("b", None)}


# ---- table resolution: one probe per dir, registry-typed stage scans -----


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched) — counted by the status
    tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_PART = "id int, v string, id_pais string, id_periodo string"
_PART_REG = SchemaRegistry(
    {"t": [("id", "int"), ("v", "varchar"), ("id_pais", "varchar"), ("id_periodo", "varchar")]}
)


def _write_partitioned(spark, path, data=((1, "a", "PE", "202401"), (2, "b", "CO", "202402"))):
    spark.createDataFrame(list(data), _PART).write.partitionBy(
        "id_pais", "id_periodo"
    ).parquet(path)


def test_registered_stage_read_launches_no_job(spark, lake):
    p = lake.table_path(Layer.STAGE, "t", "i1")
    _write_partitioned(spark, p)
    out, jobs = _spark_jobs(
        spark, lambda: read_table(spark, lake, Layer.STAGE, "t", registry=_PART_REG)
    )
    assert jobs == 0
    # the registry schema is the one inference would find, order included
    assert out.schema == spark.read.parquet(p).schema
    assert rows(out) == [(1, "a", "PE", "202401"), (2, "b", "CO", "202402")]


def test_unregistered_read_infers_schema_once(spark, lake):
    p = lake.table_path(Layer.DOMAIN, "t_dom")
    _write_partitioned(spark, p)
    out, jobs = _spark_jobs(spark, lambda: read_table(spark, lake, Layer.DOMAIN, "t_dom"))
    assert jobs <= 1
    assert out.schema == spark.read.parquet(p).schema


@pytest.mark.parametrize("marker", [None, "_SUCCESS"])
def test_empty_stage_dir_takes_registry_fallback(spark, lake, marker):
    from unittest import mock

    inst = lake.table_path(Layer.STAGE, "t", "i1")
    os.makedirs(inst)
    if marker:
        open(os.path.join(inst, marker), "w").close()
    assert not table_exists(spark, inst)
    with mock.patch.object(
        _PART_REG, "empty_dataframe", wraps=_PART_REG.empty_dataframe
    ) as fallback:
        out = read_table(spark, lake, Layer.STAGE, "t", registry=_PART_REG)
    assert fallback.call_count == 1
    assert out.schema == _PART_REG.schema("t") and out.count() == 0


def test_txlog_stage_dir_reads_current_snapshot(spark, lake):
    from cdk_datalake_analytics_comercial_spark.sources.txlog import tx_write

    p = lake.table_path(Layer.STAGE, "t", "i1")
    schema = "id int, v string, id_pais string, id_periodo string"
    tx_write(spark, spark.createDataFrame([(1, "old", "PE", "202401")], schema), p)
    tx_write(
        spark, spark.createDataFrame([(2, "new", "PE", "202401")], schema), p,
        mode="overwrite",
    )
    assert table_exists(spark, p)
    out = read_table(spark, lake, Layer.STAGE, "t", registry=_PART_REG)
    # a raw parquet scan would also return the superseded version-0 batch
    assert [tuple(r) for r in out.select("id", "v").collect()] == [(2, "new")]


def test_registered_column_missing_from_file_reads_null(spark, lake):
    reg = SchemaRegistry({"t": [("id", "int"), ("v", "varchar"), ("extra", "bigint")]})
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(
        lake.table_path(Layer.STAGE, "t", "i1")
    )
    spark.createDataFrame([(2, "b", 7)], "id int, v string, extra long").write.parquet(
        lake.table_path(Layer.STAGE, "t", "i2")
    )
    out = read_table(spark, lake, Layer.STAGE, "t", registry=reg)
    assert out.schema == reg.schema("t")
    assert rows(out) == [(1, "a", None), (2, "b", 7)]


def test_registry_type_conflict_fails_loudly(spark, lake):
    reg = SchemaRegistry({"t": [("id", "int"), ("v", "int")]})
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(
        lake.table_path(Layer.STAGE, "t", "i1")
    )
    out = read_table(spark, lake, Layer.STAGE, "t", registry=reg)
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        out.collect()


def test_file_column_outside_registry_is_dropped(spark, lake):
    # the registry defines a registered stage table's columns: a file column
    # it does not list is not read (an unregistered union would carry it)
    reg = SchemaRegistry({"t": [("id", "int"), ("v", "varchar")]})
    spark.createDataFrame([(1, "a", 9)], "id int, v string, drift long").write.parquet(
        lake.table_path(Layer.STAGE, "t", "i1")
    )
    out = read_table(spark, lake, Layer.STAGE, "t", registry=reg)
    assert out.columns == ["id", "v"]
    assert rows(out) == [(1, "a")]
    assert "drift" in read_table(spark, lake, Layer.STAGE, "t").columns


@pytest.fixture
def cas_store():
    from cdk_datalake_analytics_comercial_spark.sources import txlog as TX

    store = TX.InMemoryCASLogStore()
    TX.set_log_store(store)
    try:
        yield store
    finally:
        TX.set_log_store(None)


def test_store_backed_txlog_table_resolves_as_txlog(spark, lake, cas_store):
    # with a LogStore the log lives off disk (no _txlog dir): the probe must
    # still classify the dir as txlog, or a raw parquet scan would union the
    # superseded batch and a merge would swap a parquet dir over the table
    from cdk_datalake_analytics_comercial_spark.sources.txlog import (
        current_version,
        tx_read,
        tx_write,
    )

    p = lake.table_path(Layer.STAGE, "t", "i1")
    tx_write(spark, spark.createDataFrame([(1, "old", "PE", "202401")], _PART), p)
    tx_write(
        spark, spark.createDataFrame([(2, "new", "PE", "202401")], _PART), p,
        mode="overwrite",
    )
    assert not os.path.exists(os.path.join(p, "_txlog"))
    for reg in (_PART_REG, None):
        out = read_table(spark, lake, Layer.STAGE, "t", registry=reg)
        assert rows(out.select("id", "v")) == [(2, "new")]

    v = current_version(spark, p)
    src = spark.createDataFrame(
        [(2, "upd", "PE", "202401"), (3, "ins", "PE", "202401")], _PART
    )
    merge_upsert(spark, src, p, keys=["id"])
    assert current_version(spark, p) == v + 1  # committed through tx_merge
    merge_update_only(spark, src.withColumn("v", F.lit("again")), p, keys=["id"])
    assert current_version(spark, p) == v + 2
    assert rows(tx_read(spark, p).select("id", "v")) == [(2, "again"), (3, "again")]


def test_merge_probes_target_once(spark, lake):
    from unittest import mock

    from cdk_datalake_analytics_comercial_spark.sources import reader

    path = lake.table_path(Layer.DOMAIN, "t_probe")
    write_table(spark.createDataFrame([("a", 1)], "id string, v int"), path)
    src = spark.createDataFrame([("a", 10), ("b", 2)], "id string, v int")
    with mock.patch.object(reader, "_probe", wraps=reader._probe) as probe:
        merge_update_only(spark, src, path, keys=["id"])
        merge_upsert(spark, src, path, keys=["id"])
    assert probe.call_count == 2
    assert rows(spark.read.parquet(path)) == [("a", 10), ("b", 2)]
