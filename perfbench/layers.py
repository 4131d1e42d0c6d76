"""Per-layer metrics of a traced run, from the tracer's spans, the Spark
status store and /proc. Every name in ``NAMES`` is reported on every
workload; a layer the workload bypasses reads 0."""

from __future__ import annotations

import json
import os

from run import dir_stats, median, p90
from tracer import spark_counters

# the waves of the nightly pass (nightly.NIGHTLY_JOBS)
DOMAIN_WAVES = (2, 3, 4)
ANALYTICS_WAVES = (1, 2)
VERBS = ("merge", "update", "delete", "insert", "select")
TX_OPS = ("tx_merge", "tx_update", "tx_delete", "tx_replace_where", "tx_write")
SPARK = ("jobs", "stages", "tasks", "task_s", "sched_wait_s", "shuffle_read_mb",
         "shuffle_write_mb", "spill_mb", "input_mb", "failed_tasks", "gc_s")

NAMES = (
    ["runner.domain_wall_s", "runner.analytics_wall_s"]
    + [f"runner.wave_d{i}_wall_s" for i in DOMAIN_WAVES]
    + [f"runner.wave_a{i}_wall_s" for i in ANALYTICS_WAVES]
    + ["runner.critical_path_s", "runner.wave_idle_frac",
       "jobs.domain_busy_s", "jobs.analytics_busy_s", "jobs.slowest_s", "jobs.eager_jobs",
       "reader.read_table_calls", "reader.read_table_busy_s", "reader.empty_fallbacks",
       "writer.write_table_calls", "writer.write_table_busy_s",
       "writer.merge_upsert_calls", "writer.merge_upsert_busy_s",
       "writer.rows", "writer.files", "writer.mb",
       "plans.build_s", "plans.build_jobs", "plans.exec_s",
       "sql_dml.self_s"]
    + [f"sql_dml.{v}_self_s" for v in VERBS]
    + ["serving.register_calls", "serving.register_busy_s", "serving.native_frac"]
    + [f"txlog.{op}_busy_s" for op in TX_OPS]
    + ["txlog.commits", "txlog.read_manifest_calls", "txlog.read_manifest_busy_s",
       "txlog.current_version_calls", "txlog.live_files_frac",
       "txlog.dml_p50_s", "txlog.dml_p90_s", "txlog.select_p50_s", "txlog.select_p90_s"]
    + [f"spark.{k}" for k in SPARK]
    + ["spark.core_util",
       "proc.jvm_cpu_s", "proc.pyworker_cpu_s", "proc.jvm_peak_rss_mb",
       "trace.spans", "trace.overhead_s", "trace.overhead_frac", "trace.vs_untraced_frac"]
)

def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb"):
        return "MB"
    if name.endswith(("_frac", "_util")):
        return "fraction"
    return "count"


def _busy(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def per_layer(env, wl, ops, walls, timed_s, **proc) -> dict:
    tr = env.tracer
    m = dict.fromkeys(NAMES, 0.0)
    counters = spark_counters(env.spark.sparkContext)
    for c in counters.values():
        for k in SPARK:
            m[f"spark.{k}"] += c[k]
    m["spark.core_util"] = m["spark.task_s"] / (timed_s * env.nproc)

    def spans(prefix):
        return tr.by_name(prefix)

    # ---- runner / jobs / reader / writer (nightly_dag) --------------------
    jobs = {s["id"]: s for s in spans("jobs.")}
    if jobs:
        m["runner.domain_wall_s"] = wl.walls["domain"]
        m["runner.analytics_wall_s"] = wl.walls["analytics"]
        wave_of = {r.name: r.wave for r in wl.results}
        by_wave: dict[str, list[dict]] = {}
        # the first pass's spans (later passes, if any, repeat the names)
        firsts = [s for s in jobs.values() if s["start"] < wl.first_pass_end]
        for s in firsts:
            layer, name = s["name"].split(".")[1:3]
            by_wave.setdefault(f"{layer[0]}{wave_of[name]}", []).append(s)
        busy = capacity = 0.0
        for key, ss in by_wave.items():
            wall = max(s["end"] for s in ss) - min(s["start"] for s in ss)
            m[f"runner.wave_{key}_wall_s"] = wall
            m["runner.critical_path_s"] += max(s["end"] - s["start"] for s in ss)
            busy += _busy(ss)
            capacity += wall * min(env.nproc, len(ss))
        m["runner.wave_idle_frac"] = 1.0 - busy / capacity if capacity else 0.0
        m["jobs.domain_busy_s"] = _busy([s for s in firsts if s["name"].startswith("jobs.domain.")])
        m["jobs.analytics_busy_s"] = _busy([s for s in firsts if s["name"].startswith("jobs.analytics.")])
        m["jobs.slowest_s"] = max(s["end"] - s["start"] for s in firsts)
        # Spark jobs a job callable launches before its write: its own and
        # its read_table children's
        kids = {}
        for s in tr.spans:
            kids.setdefault(s["parent"], []).append(s)
        for s in firsts:
            m["jobs.eager_jobs"] += counters.get(s["id"], {}).get("jobs", 0)
            for k in kids.get(s["id"], []):
                if k["name"] == "sources.reader.read_table":
                    m["jobs.eager_jobs"] += counters.get(k["id"], {}).get("jobs", 0)
        reads = spans("sources.reader.read_table")
        m["reader.read_table_calls"] = len(reads)
        m["reader.read_table_busy_s"] = _busy(reads)
        m["reader.empty_fallbacks"] = wl.fallbacks
        for f in ("write_table", "merge_upsert"):
            ss = spans(f"sources.writer.{f}")
            m[f"writer.{f}_calls"] = len(ss)
            m[f"writer.{f}_busy_s"] = _busy(ss)
        m["writer.rows"] = sum(r.rows_written or 0 for r in wl.results)
        from cdk_datalake_analytics_comercial_spark.core.catalog import Layer

        for layer in (Layer.DOMAIN, Layer.ANALYTICS):
            files, size = dir_stats(wl.lake.layer_path(layer), skip=(".", "_"))
            m["writer.files"] += files
            m["writer.mb"] += size / 1e6

    # ---- plans (the queries of nightly_dag) --------------------------------
    builds = spans("plans.build")
    if builds:
        m["plans.build_s"] = _busy(builds)
        m["plans.build_jobs"] = sum(counters.get(s["id"], {}).get("jobs", 0) for s in builds)
        m["plans.exec_s"] = _busy(spans("plans.exec"))

    # ---- sql_dml / serving / txlog (txlog_dml_mix) ------------------------
    routed = spans("core.sql_dml.")
    if routed:
        for s in routed:
            verb = s["name"].rsplit(".", 1)[1]
            own = tr.self_time(s)
            m["sql_dml.self_s"] += own
            if f"sql_dml.{verb}_self_s" in m:
                m[f"sql_dml.{verb}_self_s"] += own
        regs = spans("core.sql_serving.register_txlog_table")
        m["serving.register_calls"] = len(regs)
        m["serving.register_busy_s"] = _busy(regs)
        m["serving.native_frac"] = (
            sum(wl.native) / len(wl.native) if wl.native else 0.0
        )
        for op in TX_OPS:
            m[f"txlog.{op}_busy_s"] = _busy(spans(f"sources.txlog.{op}"))
        m["txlog.commits"] = len(spans("sources.txlog.commit"))
        rm = spans("sources.txlog.read_manifest")
        m["txlog.read_manifest_calls"] = len(rm)
        m["txlog.read_manifest_busy_s"] = _busy(rm)
        m["txlog.current_version_calls"] = len(spans("sources.txlog.current_version"))
        m["txlog.live_files_frac"] = wl.live_files_frac()
        m["txlog.dml_p50_s"] = median(ops.lat.get("dml", []))
        m["txlog.dml_p90_s"] = p90(ops.lat.get("dml", []))
        m["txlog.select_p50_s"] = median(ops.lat.get("select", []))
        m["txlog.select_p90_s"] = p90(ops.lat.get("select", []))

    # ---- process and tracer --------------------------------------------
    m.update({f"proc.{k}": v for k, v in proc.items()})
    m["trace.spans"] = len(tr.spans)
    m["trace.overhead_s"] = tr.overhead_s
    m["trace.overhead_frac"] = tr.overhead_s / timed_s
    untraced = os.path.join(os.path.dirname(env.workdir), "untraced", f"{env.key}.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["wall_s"]
        m["trace.vs_untraced_frac"] = median(walls) / base - 1.0
    return {k: (v, unit(k)) for k, v in m.items()}
