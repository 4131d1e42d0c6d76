"""Read-optimized SQL serving (core/sql_serving._native_register): eligible
txlog snapshots serve through a NATIVE parquet relation over a symlink
manifest; commits refresh it in-process, ineligible snapshots fall back to
the Python Data Source and flip back when eligibility returns; DML by name
keeps routing to the transactional writers via TBLPROPERTIES."""

import pytest

from cdk_datalake_analytics_comercial_spark.core.sql_dml import (
    sql_dml,
    txlog_table_path,
)
from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
    register_txlog_table,
)
from cdk_datalake_analytics_comercial_spark.sources import txlog as TX


def _provider(spark, fq):
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {fq}").collect()
    return next(
        str(r.data_type)
        for r in rows
        if r.col_name in ("Provider", "Name") and r.data_type
    )


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        p,
        stats_for=["id"],
    )
    return p


def test_native_registration_serves_snapshot(spark, table):
    fq = register_txlog_table(
        spark, "natdb", "t1", table, read_optimized=True
    )
    assert _provider(spark, fq) == "parquet"
    got = {tuple(r) for r in spark.sql(f"SELECT id, v FROM {fq}").collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_commit_refreshes_native_table(spark, table):
    fq = register_txlog_table(
        spark, "natdb", "t2", table, read_optimized=True
    )
    # a direct writer-API commit is visible to the NEXT SELECT with no
    # re-registration (post-commit listener swaps the manifest)
    TX.tx_write(
        spark,
        spark.createDataFrame([(4, "d")], "id long, v string"),
        table,
        mode="append",
    )
    assert {r.id for r in spark.sql(f"SELECT id FROM {fq}").collect()} == {
        1,
        2,
        3,
        4,
    }


def test_dml_routes_and_refreshes(spark, table):
    fq = register_txlog_table(
        spark, "natdb", "t3", table, read_optimized=True
    )
    assert txlog_table_path(spark, fq) == (table, {})
    v0 = TX.current_version(spark, table)
    sql_dml(spark, f"DELETE FROM {fq} WHERE id = 2")
    assert TX.current_version(spark, table) == v0 + 1  # routed, one commit
    assert {r.id for r in spark.sql(f"SELECT id FROM {fq}").collect()} == {
        1,
        3,
    }


def test_dv_flip_to_python_and_back(spark, table):
    fq = register_txlog_table(
        spark, "natdb", "t4", table, read_optimized=True
    )
    TX.tx_delete(spark, table, where={"id": (2, 2)}, use_dv=True)
    assert _provider(spark, fq).startswith("txlog")  # DVs: Python source
    assert {r.id for r in spark.sql(f"SELECT id FROM {fq}").collect()} == {
        1,
        3,
    }
    TX.tx_compact(spark, table, n_files=1)  # DVs materialize away
    assert _provider(spark, fq) == "parquet"
    assert {r.id for r in spark.sql(f"SELECT id FROM {fq}").collect()} == {
        1,
        3,
    }


def test_schema_evolution_recreates_native_entry(spark, table):
    fq = register_txlog_table(
        spark, "natdb", "t5", table, read_optimized=True
    )
    sql_dml(spark, f"ALTER TABLE {fq} ADD COLUMN extra STRING")
    assert spark.sql(f"SELECT * FROM {fq}").columns == ["id", "v", "extra"]
    assert {r.extra for r in spark.sql(f"SELECT extra FROM {fq}").collect()} == {
        None
    }


def test_partitioned_native_table(spark, tmp_path):
    p = str(tmp_path / "tp")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(1, "en"), (2, "de")], "id long, lang string"
        ),
        p,
        partition_by=["lang"],
    )
    fq = register_txlog_table(spark, "natdb", "tp", p, read_optimized=True)
    assert _provider(spark, fq) == "parquet"
    got = {tuple(r) for r in spark.sql(f"SELECT id, lang FROM {fq}").collect()}
    assert got == {(1, "en"), (2, "de")}
    # a new partition value appears after an append (MSCK SYNC on refresh)
    TX.tx_write(
        spark,
        spark.createDataFrame([(3, "fr")], "id long, lang string"),
        p,
        mode="append",
        partition_by=["lang"],
    )
    assert {r.lang for r in spark.sql(f"SELECT lang FROM {fq}").collect()} == {
        "en",
        "de",
        "fr",
    }


def test_time_travel_frozen_twin_is_native(spark, table):
    register_txlog_table(spark, "natdb", "t6", table, read_optimized=True)
    TX.tx_write(
        spark,
        spark.createDataFrame([(9, "z")], "id long, v string"),
        table,
        mode="append",
    )
    out = sql_dml(spark, "SELECT id FROM natdb.t6 VERSION AS OF 1")
    assert {r.id for r in out.collect()} == {1, 2, 3}
    assert _provider(spark, "natdb.t6__asof_v1") == "parquet"


def test_native_matches_python_source_rows(spark, table):
    register_txlog_table(spark, "natdb", "t7n", table, read_optimized=True)
    register_txlog_table(spark, "natdb", "t7p", table)
    a = {tuple(r) for r in spark.sql("SELECT * FROM natdb.t7n").collect()}
    b = {tuple(r) for r in spark.sql("SELECT * FROM natdb.t7p").collect()}
    assert a == b and a


# ---------------------------------------------------------------------------
# Bounded change-feed ranges served natively over a change-feed manifest.


def _python_feed(spark, path, start, end):
    from cdk_datalake_analytics_comercial_spark.streaming.source import (
        read_txlog_changes,
    )

    return read_txlog_changes(
        spark, path, starting_version=start, ending_version=end
    )


def _plan(spark, fq):
    return (
        spark.sql(f"SELECT * FROM {fq}")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_native_equals_python(spark, path, name, start, end):
    from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
        register_txlog_changes_table,
    )

    fq = register_txlog_changes_table(
        spark, "cfnat", name, path, start, ending_version=end
    )
    assert _provider(spark, fq) == "parquet"
    assert "BatchScan txlog" not in _plan(spark, fq)
    native = spark.table(fq)
    python = _python_feed(spark, path, start, end)
    assert [(f.name, f.dataType) for f in native.schema.fields] == [
        (f.name, f.dataType) for f in python.schema.fields
    ]
    got, want = _rows(native), _rows(python)
    assert got == want
    return got


@pytest.fixture()
def feed_table(spark, tmp_path):
    """A partitioned table whose log holds every commit kind: v1 write,
    v2 append, v3 MERGE, v4 UPDATE, v5 DELETE … IN, v6 REPLACE WHERE,
    v7 metadata-only, v8 overwrite, v9-v10 appends (v10 is a
    checkpoint), v11 UPDATE (its pre-images resolve through the
    checkpoint)."""
    from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
        register_txlog_table as reg,
    )

    schema = "id long, q double, v string, p string"
    p = str(tmp_path / "feed")

    def df(rows, ddl=schema):
        return spark.createDataFrame(rows, ddl)

    TX.tx_write(
        spark,
        df([(1, 1.0, "a", "x"), (2, 2.0, "b", "x"), (3, 3.0, "c", "y")]),
        p,
        partition_by=["p"],
    )
    TX.tx_write(spark, df([(4, 4.0, "d", "z")]), p, mode="append")
    reg(spark, "cfsrc", "feed", p)
    df([(2, 20.0, "B", "x"), (5, 5.0, "e", "y")]).createOrReplaceTempView(
        "cf_merge_src"
    )
    sql_dml(
        spark,
        "MERGE INTO cfsrc.feed AS t USING cf_merge_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    sql_dml(spark, "UPDATE cfsrc.feed SET q = q + 1 WHERE p = 'y'")
    df([(1, 0.0, "", "x")]).createOrReplaceTempView("cf_del_src")
    sql_dml(
        spark,
        "DELETE FROM cfsrc.feed WHERE id IN (SELECT id FROM cf_del_src)",
    )
    df([(6, 6.0, "f", "z")]).createOrReplaceTempView("cf_rw_src")
    sql_dml(
        spark,
        "INSERT INTO cfsrc.feed REPLACE WHERE p = 'z' SELECT * FROM cf_rw_src",
    )
    TX.tx_set_properties(spark, p, {"owner": "feed"})
    TX.tx_write(
        spark,
        df([(7, 7.0, "g", "x"), (8, 8.0, "h", "y")]),
        p,
        partition_by=["p"],
    )
    for i in (9, 10):
        TX.tx_write(spark, df([(i, float(i), "n", "y")]), p, mode="append")
    sql_dml(spark, "UPDATE cfsrc.feed SET v = 'w' WHERE id = 9")
    assert TX.current_version(spark, p) == 11
    return p


def test_native_change_feed_equals_python_partitioned(spark, feed_table):
    rows = _assert_native_equals_python(spark, feed_table, "all", 1, 11)
    assert {r[-2] for r in rows} == {"insert", "delete"}
    # each commit kind on its own
    for v in range(2, 12):
        _assert_native_equals_python(spark, feed_table, f"one_{v}", v, v)
    # a metadata-only commit: an empty range, still the feed's columns
    assert _assert_native_equals_python(spark, feed_table, "meta", 7, 7) == []
    # crosses the v10 checkpoint
    _assert_native_equals_python(spark, feed_table, "ckpt", 6, 11)
    # partition pruning on the feed's own partition columns
    n = spark.sql(
        "SELECT COUNT(*) FROM cfnat.all WHERE _commit_version = 3 "
        "AND _change_type = 'delete'"
    ).collect()[0][0]
    assert n == _python_feed(spark, feed_table, 3, 3).where(
        "_change_type = 'delete'"
    ).count() > 0


def test_native_change_feed_equals_python_unpartitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    p = str(tmp_path / "flat")
    ddl = "id int, amt decimal(10,2), f float, v string"
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(1, 1, 1.5, "a"), (2, 2, 2.5, "b"), (3, 3, 3.5, "c")],
            "id int, amt int, f float, v string",
        ).selectExpr(
            "id", "CAST(amt AS decimal(10,2)) AS amt", "f", "v"
        ),
        p,
    )  # v1
    TX.tx_merge(
        spark,
        spark.createDataFrame([(2, None, 9.5, "B")], ddl),
        p,
        keys=["id"],
    )  # v2
    TX.tx_update(
        spark, p, condition="id = 3", assignments={"v": F.lit("C")}
    )  # v3
    TX.tx_widen_column(spark, p, "id", "bigint")  # v4
    TX.tx_widen_column(spark, p, "f", "double")  # v5
    TX.tx_widen_column(spark, p, "amt", "decimal(20,2)")  # v6
    TX.tx_delete(spark, p, condition="id = 1")  # v7
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(7, None, 7.5, "g")],
            "id long, amt decimal(20,2), f double, v string",
        ),
        p,
        mode="append",
    )  # v8
    TX.tx_add_column(spark, p, "note", "string")  # v9
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(8, None, 8.5, "h", "n8")],
            "id long, amt decimal(20,2), f double, v string, note string",
        ),
        p,
        mode="append",
    )  # v10: the checkpoint
    TX.tx_add_column(spark, p, "late", "int")  # v11
    # widened columns: narrow files written before v4-v6 up-cast natively;
    # `note` and `late` are added after the range, so the current schema
    # is served null-padded, as the Python feed serves it
    got = _assert_native_equals_python(spark, p, "flat_all", 1, 8)
    assert spark.table("cfnat.flat_all").columns == [
        "id", "amt", "f", "v", "note", "late",
        "_change_type", "_commit_version",
    ]
    assert got and all(r[4] is None and r[5] is None for r in got)
    _assert_native_equals_python(spark, p, "flat_pre", 1, 3)
    assert _assert_native_equals_python(spark, p, "flat_w", 4, 6) == []
    # `note` is added inside a range that crosses the checkpoint
    got = _assert_native_equals_python(spark, p, "flat_ckpt", 8, 11)
    assert {r[4] for r in got} == {None, "n8"}


def test_ineligible_change_ranges_stay_on_python_source(spark, tmp_path):
    from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
        register_txlog_changes_table as reg,
    )

    p = str(tmp_path / "inel")
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        p,
    )
    TX.tx_enable_row_tracking(spark, p)
    TX.tx_write(
        spark,
        spark.createDataFrame([(4, "d")], "id long, v string"),
        p,
        mode="append",
    )
    app = TX.current_version(spark, p)
    TX.tx_delete(spark, p, condition="id = 2", use_dv=True)  # a DV
    TX.tx_compact(spark, p, n_files=1)  # DVs materialize away
    end = TX.current_version(spark, p)
    assert "dv" in str(TX.read_commit(spark, p, app + 1)["add"])

    def python_scan(fq):
        assert _provider(spark, fq).startswith("txlog")
        assert "BatchScan txlog" in _plan(spark, fq)

    # a DV anywhere in the range, even when the end snapshot has none
    python_scan(reg(spark, "cfinel", "dv", p, app, ending_version=end))
    python_scan(
        reg(spark, "cfinel", "rk", p, app, row_keyed=True, ending_version=app)
    )
    python_scan(reg(spark, "cfinel", "open", p, app))
    # the same name flips to native once the range is eligible
    fq = reg(spark, "cfinel", "dv", p, app, ending_version=app)
    assert _provider(spark, fq) == "parquet"
    # planner refusals keep raising at the first SELECT, as before
    far = reg(spark, "cfinel", "far", p, app, ending_version=end + 5)
    with pytest.raises(Exception, match="beyond the current version"):
        spark.sql(f"SELECT * FROM {far}").collect()
    # column mapping (a rename activates it) sends every range to Python
    TX.tx_rename_column(spark, p, "v", "w")
    python_scan(reg(spark, "cfinel", "cm", p, app, ending_version=app))


def test_native_change_table_refuses_dml(spark, feed_table):
    from cdk_datalake_analytics_comercial_spark.core.sql_dml import (
        SqlDmlError,
    )
    from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
        register_txlog_changes_table,
    )

    fq = register_txlog_changes_table(
        spark, "cfnat", "ro", feed_table, 2, ending_version=4
    )
    assert _provider(spark, fq) == "parquet"
    before = TX.current_version(spark, feed_table)
    for stmt in (
        f"MERGE INTO {fq} AS t USING cf_merge_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN DELETE",
        f"UPDATE {fq} SET q = 0",
        f"DELETE FROM {fq} WHERE id = 2",
        f"INSERT INTO {fq} SELECT * FROM {fq}",
    ):
        with pytest.raises(SqlDmlError, match="CHANGE-FEED"):
            sql_dml(spark, stmt)
    assert TX.current_version(spark, feed_table) == before


def test_change_feed_reregistration_hits_cache_and_reaps_dirs(
    spark, feed_table, monkeypatch
):
    import os

    from cdk_datalake_analytics_comercial_spark.core import sql_serving as S

    def reg(name, start):
        S.register_txlog_changes_table(
            spark, "cfnat", name, feed_table, start, ending_version=4
        )
        return S._NATIVE_STATE[S._reg_key(spark, "cfnat", name)]["location"]

    first = reg("rr", 2)
    assert reg("rr2", 2) != first  # two names never share a dir

    def boom(*a, **k):
        raise AssertionError("a cached range must not rebuild")

    with monkeypatch.context() as m:
        m.setattr(S, "_create_native_table", boom)
        m.setattr(S, "_build_native_manifest", boom)
        assert reg("rr", 2) == first
    # a new range under the same name removes the name's old range dir
    assert os.path.isdir(reg("rr", 3))
    assert not os.path.exists(first)
    assert spark.table("cfnat.rr2").count() > 0  # the other name's dir stays


def test_failing_commit_listener_never_fails_the_write(
    spark, table, monkeypatch, caplog
):
    from cdk_datalake_analytics_comercial_spark.core import sql_serving as S

    fq = register_txlog_table(
        spark, "natdb", "lst", table, read_optimized=True
    )
    before = TX.current_version(spark, table)

    def broken(*a, **k):
        raise RuntimeError("manifest store unavailable")

    monkeypatch.setattr(S, "_native_register", broken)
    with caplog.at_level("WARNING"):
        v = TX.tx_write(
            spark,
            spark.createDataFrame([(4, "d")], "id long, v string"),
            table,
            mode="append",
        )
    assert v == before + 1 == TX.current_version(spark, table)
    warned = [
        r
        for r in caplog.records
        if "manifest store unavailable" in r.getMessage()
    ]
    assert len(warned) == 1 and warned[0].levelname == "WARNING"
    # the registration it could not refresh is gone: the next read is loud
    assert S._reg_key(spark, "natdb", "lst") not in S._NATIVE_STATE
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        spark.sql(f"SELECT * FROM {fq}").collect()
    monkeypatch.undo()
    fq = register_txlog_table(
        spark, "natdb", "lst", table, read_optimized=True
    )
    assert spark.table(fq).count() == 4


def test_serving_swaps_forward_and_reaps_superseded_dirs(spark, table):
    import os

    from cdk_datalake_analytics_comercial_spark.core import sql_serving as S

    fq = register_txlog_table(spark, "natdb", "fw", table, read_optimized=True)
    sql_dml(spark, f"SELECT id FROM {fq} VERSION AS OF 1").collect()
    frozen = "natdb.fw__asof_v1"
    for i in (4, 5):
        TX.tx_write(
            spark,
            spark.createDataFrame([(i, "n")], "id long, v string"),
            table,
            mode="append",
        )
    root = S._serving_root(table)
    served = os.readlink(os.path.join(root, "current"))
    assert served.startswith("v3_")
    snaps = sorted(e for e in os.listdir(root) if S._snapshot_version(e) >= 0)
    frozen_dir = os.path.basename(
        S._NATIVE_STATE[S._reg_key(spark, "natdb", "fw__asof_v1")]["location"]
    )
    # v2 was superseded and unreferenced; the frozen v1 twin keeps its dir
    assert snaps == sorted([served, frozen_dir])
    assert {r.id for r in spark.table(frozen).collect()} == {1, 2, 3}
    # a swap back to an older snapshot is refused
    old = S._build_native_manifest(
        table,
        "v2",
        [(f, ()) for f in TX.read_manifest(spark, table, 2)["files"]],
    )
    S._swap_current(spark, table, old)
    assert os.readlink(os.path.join(root, "current")) == served
    assert {r.id for r in spark.table(fq).collect()} == {1, 2, 3, 4, 5}


class _FailingMetadata:
    """A session whose catalog sees every table but whose ``verb``
    metadata statements fail (a metastore outage mid-statement)."""

    def __init__(self, inner, verb):
        self._inner, self._verb = inner, verb

    def __getattr__(self, attr):
        return getattr(self._inner, attr)

    def sql(self, text, *args, **kwargs):
        if text.startswith(self._verb):
            raise RuntimeError("metastore unavailable")
        return self._inner.sql(text, *args, **kwargs)


def test_router_raises_when_table_metadata_read_fails(spark, table):
    fq = register_txlog_table(
        spark, "natdb", "meta", table, read_optimized=True
    )
    v0 = TX.current_version(spark, table)
    for verb in ("DESCRIBE", "SHOW TBLPROPERTIES"):
        broken = _FailingMetadata(spark, verb)
        with pytest.raises(RuntimeError, match="metastore unavailable"):
            txlog_table_path(broken, fq)
        # never a silent passthrough to plain spark.sql
        with pytest.raises(RuntimeError, match="metastore unavailable"):
            sql_dml(broken, f"DELETE FROM {fq} WHERE id = 2")
    assert TX.current_version(spark, table) == v0
    assert {r.id for r in spark.table(fq).collect()} == {1, 2, 3}
    # a name the catalog does not know is still "not a txlog table"
    assert txlog_table_path(spark, "natdb.no_such_table") is None


def test_malformed_extra_property_refuses_dml(spark, table):
    """The extra-options property carries the frozen / change-feed pins
    DML is refused on: a malformed one raises instead of reading as
    "no pins" and letting DML write the live table."""
    from cdk_datalake_analytics_comercial_spark.core.sql_dml import SqlDmlError
    from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
        _NATIVE_PROP_EXTRA,
    )

    fq = register_txlog_table(
        spark, "natdb", "badextra", table, version=1, read_optimized=True
    )
    assert _provider(spark, fq) == "parquet"
    spark.sql(
        f"ALTER TABLE {fq} "
        f"SET TBLPROPERTIES ('{_NATIVE_PROP_EXTRA}' = '{{nope')"
    )
    v0 = TX.current_version(spark, table)
    with pytest.raises(SqlDmlError, match="malformed"):
        txlog_table_path(spark, fq)
    with pytest.raises(SqlDmlError, match="malformed"):
        sql_dml(spark, f"DELETE FROM {fq} WHERE id = 2")
    assert TX.current_version(spark, table) == v0


def test_refresh_listener_skips_only_a_stopped_context():
    from types import SimpleNamespace

    from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
        _refresh_native_serving,
    )

    stopped = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    assert _refresh_native_serving(stopped, "/t", 3) is None

    class _Broken:
        _jsc = object()

        @property
        def applicationId(self):
            raise RuntimeError("context state unreadable")

    with pytest.raises(RuntimeError, match="unreadable"):
        _refresh_native_serving(
            SimpleNamespace(sparkContext=_Broken()), "/t", 3
        )
