"""``nightly_dag``: the reference's own nightly workload.

Setup writes a seeded stage universe (``universe.py``) and builds the job
registries. One pass is the sales chain of the nightly DAG (see
``NIGHTLY_JOBS``): ``run_waves`` over its domain jobs, then over its
analytics jobs, with the waves of ``tools/run_full_pipeline.py``, at
``max_parallel = nproc``, into the default parquet tables; then the
analysts' reads, the registry queries of ``query_mix.py``. The first pass
loads an empty domain/analytics lake; later passes (when ``--seconds``
allows) reprocess the same periods idempotently. Operation = one job or
one query.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import query_mix
import universe
from run import dir_stats

SCALE_FULL = 5
SCALE_SMALL = 1
# One pass is the sales chain of the nightly DAG: the article master and
# product dimension the sales facts read, t_venta -> t_venta_detalle ->
# fact_venta_resumen / fact_cliente_venta_lite, and the domain facts that
# read no master (visits, inventory, opening balances), so that domain wave
# 3 holds more jobs than cores. The orders and deliveries chain (t_pedido*,
# t_reparto and the four analytics facts that read them) is left out: its
# jobs take 19-23 s each in a fresh JVM on 4 cores, and the whole 53-job
# DAG 70-90 s, more than the run budget allows beside two more workloads.
NIGHTLY_JOBS = (
    "m_articulo_lite",
    "t_venta_lite", "t_visita_lite", "t_movimiento_inventario_lite",
    "t_movimiento_inventario_detalle_lite", "t_saldos_iniciales_lite",
    "t_venta_detalle_lite",
    "dim_producto_lite",
    "fact_venta_resumen", "fact_cliente_venta_lite",
)
# per-table content checksums of known-good runs, by seed and scale
CHECKSUMS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "checksums.json")


def _arrow_type(t: str) -> pa.DataType:
    if t.startswith("decimal("):
        p, s = t[len("decimal("):-1].split(",")
        return pa.decimal128(int(p), int(s))
    return {
        "string": pa.string(),
        "int": pa.int32(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }[t]


def write_stage(lake, stage_tables: dict, seed: int, scale: int) -> dict[str, int]:
    """The universe as one parquet file per stage table directory."""
    from cdk_datalake_analytics_comercial_spark.core.catalog import Layer

    counts = {}
    for table, (ddl, rows) in universe.generate(stage_tables, seed, scale).items():
        cols = [part.strip().split(" ", 1) for part in ddl.split(", ")]
        schema = pa.schema([(n, _arrow_type(t)) for n, t in cols])
        data = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        path = lake.table_path(Layer.STAGE, table, stage_tables[table][2])
        os.makedirs(path, exist_ok=True)
        pq.write_table(data, os.path.join(path, "part-00000.parquet"))
        counts[table] = len(rows)
    return counts


def table_checksum(path: str, now: dt.datetime) -> str:
    """Order-insensitive digest of a parquet table directory. Timestamp
    columns holding load-time stamps (within a day of ``now``) are left
    out: they differ between runs by design."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return "empty"
    # one file's schema at a time: partition values are in the paths
    rows = []
    for f in files:
        t = pq.read_table(f)
        keep = []
        for name, typ in zip(t.schema.names, t.schema.types):
            if pa.types.is_timestamp(typ):
                col = t.column(name).cast(pa.timestamp("us"))
                mx = pa.compute.max(col).as_py()
                if mx is not None and abs((mx - now).total_seconds()) < 86400:
                    continue
            keep.append(name)
        rel = os.path.relpath(os.path.dirname(f), path)
        for r in t.select(sorted(keep)).to_pylist():
            # doubles to 9 significant digits: summation order may differ
            rows.append(rel + repr(sorted(
                (k, float(f"{v:.9g}") if isinstance(v, float) else v) for k, v in r.items()
            )))
    rows.sort()
    return hashlib.sha1("\n".join(rows).encode()).hexdigest()


def _load(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


class Workload:
    def __init__(self, env):
        self.env = env
        self.scale = SCALE_SMALL if env.small else SCALE_FULL
        self.root = None
        self.results = []
        self.walls: dict[str, float] = {}
        # the analysts' registry queries that follow the nightly DAG
        self.queries = query_mix.QueryMix(env)

    def make_inputs(self) -> None:
        from cdk_datalake_analytics_comercial_spark.core.catalog import Catalog
        from full_stage import STAGE_TABLES

        self.root = os.path.join(self.env.workdir, "lake")
        self.stage_counts = write_stage(
            Catalog(root=self.root), STAGE_TABLES, self.env.seed, self.scale
        )
        self.queries.make_inputs()

    def prepare(self) -> None:
        from cdk_datalake_analytics_comercial_spark.core.catalog import Catalog
        from cdk_datalake_analytics_comercial_spark.jobs import ANALYTICS_JOBS, DOMAIN_JOBS
        from cdk_datalake_analytics_comercial_spark.runner import (
            JobContext,
            JobRegistry,
            parse_config_csv,
        )
        from cdk_datalake_analytics_comercial_spark.sources.registry import SchemaRegistry
        from full_stage import full_registry_dict
        from run_full_pipeline import ANALYTICS_CSV, AS_OF, DOMAIN_CSV

        self.queries.prepare()
        self.domain_cfg = [c for c in parse_config_csv(DOMAIN_CSV)
                           if c.procedure in NIGHTLY_JOBS]
        self.analytics_cfg = [c for c in parse_config_csv(ANALYTICS_CSV)
                              if c.procedure in NIGHTLY_JOBS]
        self.lake = Catalog(root=self.root)
        reg = SchemaRegistry(full_registry_dict())
        spark = self.env.spark
        self.make_ctx = lambda cfg: JobContext(
            spark=spark, catalog=self.lake, registry=reg, config=cfg, as_of=AS_OF
        )
        self.domain_jobs, self.analytics_jobs = DOMAIN_JOBS, ANALYTICS_JOBS
        tr = self.env.tracer
        if tr is None:
            return
        import cdk_datalake_analytics_comercial_spark as pkg
        from cdk_datalake_analytics_comercial_spark.sources import reader, writer

        # jobs bind read_table / write_table / merge_upsert at import time
        tr.patch_bound(pkg.__name__, reader, "read_table", "sources.reader.read_table")
        tr.patch_bound(pkg.__name__, writer, "write_table", "sources.writer.write_table")
        tr.patch_bound(pkg.__name__, writer, "merge_upsert", "sources.writer.merge_upsert")
        self.fallbacks = 0
        orig_empty = reg.empty_dataframe

        def empty_dataframe(*a, **kw):
            self.fallbacks += 1
            return orig_empty(*a, **kw)

        reg.empty_dataframe = empty_dataframe
        self.runner_span = None
        parent = lambda: self.runner_span  # noqa: E731
        for attr, layer, src, cfgs in (
            ("domain_jobs", "domain", DOMAIN_JOBS, self.domain_cfg),
            ("analytics_jobs", "analytics", ANALYTICS_JOBS, self.analytics_cfg),
        ):
            wrapped = JobRegistry()
            for c in cfgs:
                wrapped.add(
                    c.procedure,
                    tr.wrap(f"jobs.{layer}.{c.procedure}", src.get(c.procedure), parent),
                )
            setattr(self, attr, wrapped)

    def _waves(self, name: str, cfgs, jobs):
        from cdk_datalake_analytics_comercial_spark.runner import run_waves

        run = lambda: run_waves(  # noqa: E731
            cfgs, jobs, self.make_ctx, max_parallel=self.env.nproc
        )
        tr = self.env.tracer
        if tr is None:
            return run()
        with tr.span(f"runner.{name}") as rec:
            self.runner_span = rec["id"]
            return run()

    def run_pass(self, ops, first: bool) -> None:
        t0 = time.perf_counter()
        dr = self._waves("domain", self.domain_cfg, self.domain_jobs)
        t1 = time.perf_counter()
        ar = self._waves("analytics", self.analytics_cfg, self.analytics_jobs)
        t2 = time.perf_counter()
        for r in dr + ar:
            print(f"job {r.name} {r.status} {r.seconds:.2f}s", file=sys.stderr)
            ops.record("job", r.seconds, r.status == "succeeded",
                       f"job {r.name} {r.status}: {(r.error or '')[-300:]}")
        if first:
            self.results = dr + ar
            self.walls = {"domain": t1 - t0, "analytics": t2 - t1}
            self.first_pass_end = t2
        self.queries.run_pass(ops, first)

    def store_bytes(self) -> int:
        from cdk_datalake_analytics_comercial_spark.core.catalog import Layer

        return sum(
            dir_stats(self.lake.layer_path(layer))[1]
            for layer in (Layer.DOMAIN, Layer.ANALYTICS)
        )

    def check(self) -> list[str]:
        from cdk_datalake_analytics_comercial_spark.core.catalog import Layer
        from full_stage import STAGE_TABLES

        errors = []
        n_jobs = len(self.domain_cfg) + len(self.analytics_cfg)
        ok = sum(r.status == "succeeded" for r in self.results)
        if ok != n_jobs:
            errors.append(f"{ok} of {n_jobs} jobs succeeded")
        for table, n in universe.expected_counts(STAGE_TABLES, self.scale).items():
            if self.stage_counts.get(table) != n:
                errors.append(f"stage {table}: {self.stage_counts.get(table)} rows, expected {n}")
        written = {r.name: r.rows_written for r in self.results}
        in_pass = {c.procedure for c in self.domain_cfg + self.analytics_cfg}
        for job, n in universe.expected_outputs(self.scale).items():
            if job in in_pass and written.get(job) != n:
                errors.append(f"{job} wrote {written.get(job)} rows, expected {n}")
        # content checksum: compared with the recorded one of this seed and
        # scale, or else recorded, if every other check passed
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        sums = {}
        for layer in (Layer.DOMAIN, Layer.ANALYTICS):
            base = self.lake.layer_path(layer)
            for table in sorted(os.listdir(base)) if os.path.isdir(base) else []:
                sums[f"{layer.value}/{table}"] = table_checksum(os.path.join(base, table), now)
        key = f"s{self.env.seed}-x{self.scale}"
        local = os.path.join(os.path.dirname(self.env.workdir), "checksums.json")
        prev = _load(CHECKSUMS).get(key) or _load(local).get(key)
        if prev is not None:
            diff = sorted(k for k in set(prev) | set(sums) if prev.get(k) != sums.get(k))
            if diff:
                errors.append(f"content checksum differs from the recorded one: {diff[:5]}")
        elif not errors:
            recorded = _load(local)
            recorded[key] = sums
            with open(local, "w") as f:
                json.dump(recorded, f, indent=0, sort_keys=True)
        return errors + self.queries.check()
