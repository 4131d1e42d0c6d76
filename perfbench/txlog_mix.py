"""``txlog_dml_mix``: SQL writes beside SQL reads on a txlog fact table.

Setup builds a txlog table from seeded ``lineitem`` rows, partitioned by a
``id_periodo`` period column like the reference's ``t_venta``, and
registers it by name with ``register_txlog_table(read_optimized=True)``.
One pass is a seeded statement stream through ``core.sql_dml.sql_dml``,
writes and reads alternating:

- writes: period MERGE upserts, UPDATE, DELETE … IN (subquery) and
  INSERT … REPLACE WHERE;
- reads: point lookups, period aggregates, VERSION AS OF and a
  change-feed range.

Every pass starts from a fresh copy of the base table, so the log grows
identically and crosses a checkpoint. Operation = one statement. The
check replays the statement log on DuckDB (an upsert as DELETE + INSERT)
and compares every SELECT result and the final table.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from run import dir_stats

DB = "perfbench"
SF_FULL = 0.005
SF_SMALL = 0.001
# three open periods, as the nightly reprocesses
PERIODS = 3
# one round = one write, then one read; each write kind and each read kind
# comes twice in a full stream
ROUNDS_FULL = 8
ROUNDS_SMALL = 4
# metadata-only commits after the base write, so that the stream's writes
# cross the log's checkpoint (every 10th commit) at its sixth write
BASE_COMMITS = 4
WRITES = ("merge", "update", "delete_in", "replace_where")
READS = ("point", "period_agg", "version_as_of", "change_feed")
COLS = ("l_id", "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "id_periodo")
NEW_ID = 10_000_000
SCHEMA = ("l_id bigint, l_orderkey bigint, l_partkey bigint, l_quantity double, "
          "l_extendedprice double, l_discount double, l_returnflag string, "
          "id_periodo string")
NET = (
    "SUM(CASE WHEN _change_type IN ('insert', 'update_postimage') "
    "THEN 1 ELSE -1 END) AS dn, "
    "SUM(CASE WHEN _change_type IN ('insert', 'update_postimage') "
    "THEN l_quantity ELSE -l_quantity END) AS dq"
)


def base_table(seed: int, sf: float) -> pa.Table:
    li = inputs.make_tables(seed, sf)["lineitem"]
    # ship months folded onto PERIODS monthly partitions, 202401 onwards
    month = pc.add(pc.divide(pc.subtract(pc.month(li.column("l_shipdate")), 1),
                             12 // PERIODS), 1)
    period = pc.binary_join_element_wise(
        "2024", pc.utf8_lpad(pc.cast(month, pa.string()), 2, "0"), ""
    )
    return pa.table({
        "l_id": pa.array(range(li.num_rows), pa.int64()),
        "l_orderkey": li.column("l_orderkey"),
        "l_partkey": li.column("l_partkey"),
        "l_quantity": li.column("l_quantity"),
        "l_extendedprice": li.column("l_extendedprice"),
        "l_discount": li.column("l_discount"),
        "l_returnflag": li.column("l_returnflag"),
        "id_periodo": period,
    })


class Workload:
    def __init__(self, env):
        self.env = env
        self.sf = SF_SMALL if env.small else SF_FULL
        self.rounds = ROUNDS_SMALL if env.small else ROUNDS_FULL
        self.log: list[dict] = []
        self.native: list[bool] = []

    def make_inputs(self) -> None:
        self.base = base_table(self.env.seed, self.sf)
        self.base_file = os.path.join(self.env.workdir, "base.parquet")
        pq.write_table(self.base, self.base_file)

    # ---- the statement stream -------------------------------------------

    def _stream(self) -> list[dict]:
        """Seeded statements; source rows for writes are drawn here."""
        rng = random.Random(self.env.seed)
        periods = sorted(set(self.base.column("id_periodo").to_pylist()))
        ids = self.base.column("l_id").to_pylist()
        by_period: dict[str, list[int]] = {}
        for i, p in zip(ids, self.base.column("id_periodo").to_pylist()):
            by_period.setdefault(p, []).append(i)
        out = []
        for r in range(self.rounds):
            k = len(out)
            # writes cycle over the periods: the files a stream rewrites,
            # and so store_mb, do not depend on the seed
            p = periods[r % len(periods)]
            kind = WRITES[r % len(WRITES)]
            s = {"kind": kind, "period": p}
            if kind == "merge":
                old = rng.sample(by_period[p], 20)
                s["rows"] = [
                    (i, rng.randrange(10**5), rng.randrange(10**4), float(rng.randint(1, 50)),
                     round(rng.uniform(900, 105000), 2), 0.05, "N", p)
                    for i in old + [NEW_ID + 100 * k + j for j in range(20)]
                ]
            elif kind == "update":
                s["mod"] = rng.randrange(5)
            elif kind == "delete_in":
                s["ids"] = rng.sample(ids, 20)
            else:
                s["rows"] = [
                    (NEW_ID + 100 * k + j, rng.randrange(10**5), rng.randrange(10**4),
                     float(rng.randint(1, 50)), round(rng.uniform(900, 105000), 2),
                     0.02, "R", p)
                    for j in range(50)
                ]
            out.append(s)
            out.append({"kind": READS[r % len(READS)], "period": rng.choice(periods),
                        "id": rng.choice(ids), "pick": rng.random()})
        return out

    def prepare(self) -> None:
        from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
            register_txlog_table,
        )
        from cdk_datalake_analytics_comercial_spark.sources.txlog import (
            current_version,
            tx_set_properties,
            tx_write,
        )

        spark = self.env.spark
        self.base_path = os.path.join(self.env.workdir, "t_base")
        tx_write(
            spark, spark.read.parquet(self.base_file), self.base_path,
            partition_by=["id_periodo"], stats_for=["l_id"],
        )
        for i in range(BASE_COMMITS):
            tx_set_properties(spark, self.base_path, {"perfbench.base": str(i)})
        self.v0 = current_version(spark, self.base_path)
        self.stream = self._stream()
        # all write sources in one local relation; one view per statement
        src = [(k, *row) for k, s in enumerate(self.stream) for row in s.get("rows", [])]
        spark.createDataFrame(src, "k int, " + SCHEMA).createOrReplaceTempView("pb_src")
        dels = [(k, i) for k, s in enumerate(self.stream) for i in s.get("ids", [])]
        spark.createDataFrame(dels, "k int, l_id bigint").createOrReplaceTempView("pb_del")
        cols = ", ".join(COLS)
        for k, s in enumerate(self.stream):
            if "rows" in s:
                spark.sql(f"CREATE OR REPLACE TEMP VIEW pb_src_{k} AS "
                          f"SELECT {cols} FROM pb_src WHERE k = {k}")
            if "ids" in s:
                spark.sql(f"CREATE OR REPLACE TEMP VIEW pb_del_{k} AS "
                          f"SELECT l_id FROM pb_del WHERE k = {k}")
        self.register = register_txlog_table
        tr = self.env.tracer
        if tr is not None:
            self._patch(tr)

    def _patch(self, tr) -> None:
        from cdk_datalake_analytics_comercial_spark.core import sql_serving
        from cdk_datalake_analytics_comercial_spark.sources import txlog

        # sql_dml imports tx_* inside its functions: module attributes work
        for f in ("tx_merge", "tx_update", "tx_delete", "tx_replace_where",
                  "tx_write", "read_manifest", "current_version"):
            tr.patch(txlog, f, f"sources.txlog.{f}")
        tr.patch(sql_serving, "register_txlog_table",
                 "core.sql_serving.register_txlog_table")
        tr.patch(sql_serving, "register_txlog_changes_table",
                 "core.sql_serving.register_txlog_changes_table")
        self.register = sql_serving.register_txlog_table
        # the post-commit hook (serving refresh) runs once per commit
        tr.patch(txlog, "_notify_commit", "sources.txlog.commit")

    def _sql(self, text: str):
        from cdk_datalake_analytics_comercial_spark.core.sql_dml import sql_dml

        tr = self.env.tracer
        if tr is None:
            return sql_dml(self.env.spark, text)
        with tr.span(f"core.sql_dml.{text.split()[0].lower()}"):
            return sql_dml(self.env.spark, text)

    def _statement(self, k: int, s: dict, versions: list[int]):
        t = f"{DB}.t"
        p = s["period"]
        kind = s["kind"]
        if kind == "merge":
            return self._sql(
                f"MERGE INTO {t} AS t USING (SELECT * FROM pb_src_{k}) AS s "
                "ON t.l_id = s.l_id WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        if kind == "update":
            return self._sql(
                f"UPDATE {t} SET l_quantity = l_quantity + 1 "
                f"WHERE id_periodo = '{p}' AND l_partkey % 5 = {s['mod']}"
            )
        if kind == "delete_in":
            return self._sql(f"DELETE FROM {t} WHERE l_id IN (SELECT l_id FROM pb_del_{k})")
        if kind == "replace_where":
            return self._sql(
                f"INSERT INTO {t} REPLACE WHERE id_periodo = '{p}' "
                f"SELECT * FROM pb_src_{k}"
            )
        if kind == "point":
            q = f"SELECT l_id, l_quantity, id_periodo FROM {t} WHERE l_id = {s['id']}"
        elif kind == "period_agg":
            q = (f"SELECT id_periodo, COUNT(*) AS n, SUM(l_quantity) AS q FROM {t} "
                 f"WHERE id_periodo = '{p}' GROUP BY id_periodo")
        elif kind == "version_as_of":
            s["version"] = versions[int(s["pick"] * len(versions))]
            q = f"SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM {t} VERSION AS OF {s['version']}"
        else:
            from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
                register_txlog_changes_table,
            )

            hi = versions[-1]
            lo = versions[int(s["pick"] * (len(versions) - 1))] + 1 if len(versions) > 1 else hi
            lo = min(lo, hi)
            s["range"] = (lo, hi)
            register_txlog_changes_table(
                self.env.spark, DB, "chg", self.path, starting_version=lo, ending_version=hi
            )
            q = f"SELECT {NET} FROM {DB}.chg"
        df = self._sql(q)
        if self.env.tracer is not None and kind != "change_feed":
            plan = df._jdf.queryExecution().executedPlan().toString()
            self.native.append("BatchScan txlog" not in plan)
        return [tuple(r) for r in df.collect()]

    def run_pass(self, ops, first: bool) -> None:
        # each pass starts from the same base version (outside the clock
        # would be fairer, but the copy is a few MB and ~10 ms)
        self.path = os.path.join(self.env.workdir, "t")
        shutil.rmtree(self.path, ignore_errors=True)
        shutil.copytree(self.base_path, self.path)
        self.register(self.env.spark, DB, "t", self.path, read_optimized=True)
        versions = [self.v0]
        log = []
        for k, s in enumerate(self.stream):
            write = s["kind"] in WRITES
            t0 = time.perf_counter()
            try:
                out = self._statement(k, s, versions)
            except Exception as e:
                ops.record("dml" if write else "select", time.perf_counter() - t0, False,
                           f"statement {k} {s['kind']}: {str(e)[:300]}")
                log.append(dict(s, out=None))
                continue
            ops.record("dml" if write else "select", time.perf_counter() - t0)
            print(f"statement {k} {s['kind']} {time.perf_counter() - t0:.2f}s", file=sys.stderr)
            if write:
                versions.append(int(out))
            log.append(dict(s, out=out))
        if first:
            self.log = log

    def store_bytes(self) -> int:
        return dir_stats(self.path)[1]

    def live_files_frac(self) -> float:
        """Data files in the current snapshot ÷ data files on disk."""
        from cdk_datalake_analytics_comercial_spark.sources.txlog import (
            current_version,
            read_manifest,
        )

        spark = self.env.spark
        live = len(read_manifest(spark, self.path, current_version(spark, self.path))["files"])
        on_disk = dir_stats(self.path, skip=("_", "."))[0]
        return live / on_disk if on_disk else 0.0

    # ---- DuckDB replay -------------------------------------------------

    def check(self) -> list[str]:
        import duckdb
        from check_correctness import canon

        con = duckdb.connect()
        con.sql(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.base_file}')")
        agg = {}

        def snapshot(v):
            agg[v] = con.sql("SELECT COUNT(*), SUM(l_quantity) FROM t").fetchone()

        snapshot(self.v0)
        errors = []
        for k, s in enumerate(self.log):
            kind, p = s["kind"], s["period"]
            if s["out"] is None:
                continue
            if kind in ("merge", "replace_where"):
                src = pa.Table.from_pylist([dict(zip(COLS, r)) for r in s["rows"]],
                                           schema=self.base.schema)
                con.register("src", src)
                if kind == "merge":
                    con.sql("DELETE FROM t WHERE l_id IN (SELECT l_id FROM src)")
                else:
                    con.sql(f"DELETE FROM t WHERE id_periodo = '{p}'")
                con.sql("INSERT INTO t SELECT * FROM src")
                con.unregister("src")
            elif kind == "update":
                con.sql(f"UPDATE t SET l_quantity = l_quantity + 1 "
                        f"WHERE id_periodo = '{p}' AND l_partkey % 5 = {s['mod']}")
            elif kind == "delete_in":
                con.sql(f"DELETE FROM t WHERE l_id IN ({', '.join(map(str, s['ids']))})")
            if kind in WRITES:
                snapshot(int(s["out"]))
                continue
            if kind == "point":
                want = con.sql(f"SELECT l_id, l_quantity, id_periodo FROM t "
                               f"WHERE l_id = {s['id']}").fetchall()
            elif kind == "period_agg":
                want = con.sql(f"SELECT id_periodo, COUNT(*), SUM(l_quantity) FROM t "
                               f"WHERE id_periodo = '{p}' GROUP BY id_periodo").fetchall()
            elif kind == "version_as_of":
                want = [agg[s["version"]]]
            else:
                lo, hi = s["range"]
                prev = max(v for v in agg if v < lo)
                want = [(agg[hi][0] - agg[prev][0], agg[hi][1] - agg[prev][1])]
            got = [tuple(float(x) if isinstance(x, (int, float)) and not isinstance(x, bool)
                         else x for x in r) for r in s["out"]]
            want = [tuple(float(x) if isinstance(x, (int, float)) and not isinstance(x, bool)
                          else x for x in r) for r in want]
            if sorted(got) != sorted(want):
                errors.append(f"statement {k} {kind}: got {got[:3]}, DuckDB {want[:3]}")
        final = self.env.spark.sql(f"SELECT * FROM {DB}.t").toPandas()
        if canon(final) != canon(con.sql("SELECT * FROM t").df()):
            errors.append("final table differs from the DuckDB replay")
        con.close()
        return errors
