"""``query_mix``: analysts' reads through the query registry, the second
half of a ``nightly_dag`` pass.

Setup writes the seeded input tables (``inputs.py``) and computes each
query's DuckDB fingerprint from its oracle twin
(``__spark_entry__.oracle_sql()``), canonicalized the way
``tools/check_correctness.py`` does it. One pass runs a fixed subset of
``bench.HEADLINE`` (imported, not edited), in an order drawn from the
seed, each query built by its ``QUERIES[name]`` call and written to the
``noop`` sink. Operation = one query (build + noop write).

The subset keeps one run inside the benchmark's time budget; it spans
relational aggregates and windows, text and events. The SQL-over-txlog
family is left to ``txlog_dml_mix``.
"""

from __future__ import annotations

import os
import random
import sys
import time

import inputs

SUBSET = (
    "pricing_summary",
    "rolling_12m_window",
    "text_token_stats",
    "events_sessions",
)
SF_FULL = 0.02
SF_SMALL = 0.005


class QueryMix:
    def __init__(self, env):
        self.env = env
        self.sf = SF_SMALL if env.small else SF_FULL
        self.data = os.path.join(env.workdir, "data")
        self.dfs = {}
        # data-dependent oracles (IVF centroids) are built when the plans
        # package is imported, from this directory
        os.environ["SPARK_GRAFT_ORACLE_SF"] = self.data

    def make_inputs(self) -> None:
        inputs.write_tables(self.env.seed, self.sf, self.data)

    def prepare(self) -> None:
        import bench
        import duckdb
        from check_correctness import canon

        from __spark_entry__ import oracle_sql, queries

        missing = [q for q in SUBSET if q not in bench.HEADLINE]
        if missing:
            raise SystemExit(f"perfbench: not in bench.HEADLINE: {missing}")
        self.queries = queries()
        oracles = oracle_sql()
        con = duckdb.connect()
        for t in inputs.TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        self.expected = {q: canon(con.sql(oracles[q]).df()) for q in SUBSET}
        con.close()
        self.order = list(SUBSET)
        random.Random(self.env.seed).shuffle(self.order)
        # the JVM's first scan, aggregate and exchange carry one-time
        # start-up that would land on whichever query the seed puts first
        self.env.spark.sql(
            f"SELECT l_returnflag, SUM(l_quantity) FROM parquet.`{self.data}/lineitem.parquet` "
            "GROUP BY l_returnflag"
        ).write.format("noop").mode("overwrite").save()

    def _one(self, name: str):
        tr = self.env.tracer
        if tr is None:
            df = self.queries[name](self.env.spark, self.data)
            df.write.format("noop").mode("overwrite").save()
            return df
        with tr.span(f"query.{name}"):
            with tr.span("plans.build"):
                df = self.queries[name](self.env.spark, self.data)
            with tr.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
        return df

    def run_pass(self, ops, first: bool) -> None:
        for name in self.order:
            t0 = time.perf_counter()
            try:
                df = self._one(name)
            except Exception as e:  # a failed query is a failed operation
                ops.record("query", time.perf_counter() - t0, False, f"{name}: {e}")
                continue
            ops.record("query", time.perf_counter() - t0)
            print(f"query {name} {time.perf_counter() - t0:.2f}s", file=sys.stderr)
            if first:
                self.dfs[name] = df

    def check(self) -> list[str]:
        from check_correctness import canon

        errors = []
        for name, df in self.dfs.items():
            got = canon(df.toPandas())
            if got != self.expected[name]:
                errors.append(
                    f"{name}: {len(got)} rows differ from the DuckDB twin "
                    f"({len(self.expected[name])} rows)"
                )
        return errors
