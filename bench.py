"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed against the ``noop`` sink so the *full* plan runs
(a count() would let Catalyst prune the projections away).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the operator families that dominate 100 TB workloads —
# wide aggregation, join chains, windows, rolling metrics, dedup sketches,
# text analysis, similarity search, event sessionization.
HEADLINE = [
    "pricing_summary",
    "sales_enrichment",
    "multikey_join",
    "regional_supplier_volume",
    "sql_regional_supplier_volume",
    "sql_pushdown_lookup",
    "sql_txlog_dml",
    "sql_insert_overwrite_dynamic",
    "sql_time_travel",
    "sql_ddl_lifecycle",
    "sql_merge_conditional",
    "sql_merge_evolution",
    "sql_copy_into",
    "sql_generated_pruning",
    "sql_widening_lifecycle",
    "sql_delete_exists",
    "sql_delete_in_subquery",
    "sql_replace_where",
    "sql_convert_in_place",
    "sql_zorder_pruning",
    "txlog_changes_batch",
    "large_orders",
    "shipping_priority",
    "nation_trade",
    "returned_customers",
    "order_priority_late",
    "promo_revenue_share",
    "nation_market_share",
    "product_margin",
    "customer_order_distribution",
    "supplier_part_variety",
    "disjunctive_revenue",
    "idle_rich_customers",
    "top_supplier",
    "part_promo_suppliers",
    "waiting_suppliers",
    "rolling_3m_window",
    "rolling_12m_window",
    "top1_join",
    "nation_stats",
    "brand_revenue",
    "monthly_share",
    "period_pruned_sales",
    "salted_agg",
    "dedup_exact",
    "dedup_paragraphs",
    "dedup_minhash",
    "dedup_incremental",
    "dedup_incremental_probe",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "text_token_stats",
    "text_lang_id",
    "text_quality",
    "text_repetition",
    "doc_pack",
    "doc_chunks",
    "corpus_filter",
    "importance_sample",
    "corpus_resample",
    "corpus_shuffle",
    "doc_length_histogram",
    "decontam_overlap",
    "stratified_fixed_k",
    "tfidf_keywords",
    "doc_rarity",
    "quality_classifier",
    "pii_scrub",
    "dq_report",
    "emb_cosine_topk",
    "emb_pq_topk",
    "emb_rerank_topk",
    "emb_ivfpq_topk",
    "emb_ivfpq_residual_topk",
    "emb_ivfpq_search_index",
    "emb_lsh_multitable",
    "emb_near_dup",
    "multimodal_mp4_probe",
    "events_tumbling",
    "events_sliding",
    "events_sessions",
    "events_asof_error",
    "events_next_after_error",
    "events_funnel",
    "events_hll_users",
    "events_retention",
    "events_stickiness",
    "customer_rfm",
    "cheapest_supplier",
    "orders_abc_pareto",
    "part_affinity",
    "small_quantity_revenue",
    "sales_rollup",
    "late_orders_exists",
    "latest_order_agg",
    "status_priority_pivot",
    "customer_value_deciles",
    "cube_status_priority",
    "order_timeline",
    "monthly_gap_fill",
    "monthly_interpolate",
    "approx_distinct_kmv",
    "approx_distinct_hll",
]


def main() -> None:
    from cdk_datalake_analytics_comercial_spark.core import get_spark
    from cdk_datalake_analytics_comercial_spark.plans import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Optional subset run (r13 verdict #9: per-round sf1 hot-family rows in
    # BENCH_HISTORY) — the generated sf1 corpus carries only the document/
    # event tables, so a full-HEADLINE run is impossible there. The default
    # (unset) HEADLINE is unchanged; subset rows land in BENCH_HISTORY
    # keyed by their sf and marked ``subset`` (see latest_full_record).
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = (
        [q.strip() for q in subset.split(",") if q.strip()]
        if subset
        else HEADLINE
    )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + file listing + the Python (Arrow UDF) worker pool so
    # per-query times measure the plans, not one-time process startup
    # (subset runs warm with their own first query — a generated corpus
    # may not carry every table the default warmup query reads)
    QUERIES[headline[0] if subset else "pricing_summary"](
        spark, sf_dir
    ).write.format("noop").mode("overwrite").save()
    import pandas as _pd

    spark.range(64).repartition(64).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # median-of-5 with per-query MAD and JVM CPU time (VERDICT r4 #8): the
    # host is multi-tenant and identical-code runs drift ±15% wall-clock,
    # so a min-of-3 cannot distinguish a real 20% regression from noise.
    # The median damps outlier passes; the MAD quantifies the remaining
    # noise floor per query; process CPU time (driver+executors share one
    # JVM in local mode) is nearly host-load-independent, so CPU moves are
    # the trustworthy regression signal.
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    jvm_pid = _jvm_pid(spark)
    samples: dict[str, list[float]] = {name: [] for name in headline}
    cpu_samples: dict[str, list[float]] = {name: [] for name in headline}
    for _ in range(passes):
        for name in headline:
            c0 = _proc_cpu_sec(jvm_pid)
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.time() - t0, 3))
            cpu_samples[name].append(round(_proc_cpu_sec(jvm_pid) - c0, 3))

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return round(
            s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2, 3
        )

    timings = {name: median(samples[name]) for name in headline}
    mad = {
        name: median([abs(x - timings[name]) for x in samples[name]])
        for name in headline
    }
    cpu = {name: median(cpu_samples[name]) for name in headline}
    total = round(sum(timings.values()), 3)
    noise_floor = round(sum(mad.values()), 3)
    _append_history(
        timings, total, sf, mad=mad, cpu=cpu, passes=passes, subset=bool(subset)
    )
    print(_stdout_line(timings, total, sf, passes, noise_floor))


def _stdout_line(
    timings: dict[str, float],
    total: float,
    sf: str,
    passes: int,
    noise_floor: float,
    limit: int = 1980,
) -> str:
    """The driver captures only the LAST 2000 chars of stdout and parses the
    JSON line out of that tail — a longer line truncates mid-JSON and the
    round records parsed=null (this bit rounds 5 and 6). So stdout gets a
    compact line guaranteed to fit; the full per-query mad/cpu detail lives
    in BENCH_HISTORY.jsonl (committed, same run). When the registry grows
    past what fits, the fastest queries are dropped from the stdout dict
    (the slow ones carry the signal) and queries_omitted says how many."""
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "mo": passes,  # median-of-N protocol; full mad/cpu in the history
        "nf": noise_floor,
    }
    line = json.dumps(payload, separators=(",", ":"))
    omitted: list[str] = []
    while len(line) > limit and payload["queries"]:
        fastest = min(payload["queries"], key=payload["queries"].get)
        omitted.append(fastest)
        del payload["queries"][fastest]
        payload["queries_omitted"] = len(timings) - len(payload["queries"])
        line = json.dumps(payload, separators=(",", ":"))
    if omitted:
        # Full per-query visibility cannot fit the stdout contract: the
        # registry's 103 query names alone average 16.5 chars, so a
        # complete {"name": sec} dict is ~2.6k chars against the driver's
        # 2000-char tail capture. The omitted names + times go to stderr
        # and the COMPLETE dict (plus mad/cpu) is committed in
        # BENCH_HISTORY.jsonl by the same run.
        print(
            "bench stdout omitted (full times in BENCH_HISTORY.jsonl): "
            + "; ".join(f"{n}={timings[n]}" for n in sorted(omitted)),
            file=sys.stderr,
        )
    return line


def _jvm_pid(spark) -> int | None:
    """The local-mode JVM's pid (RuntimeMXBean name is ``pid@host``) — the
    com.sun.management CPU bean is reflection-blocked under Java 17 module
    encapsulation, so CPU time comes from /proc instead."""
    try:
        name = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getName()
        )
        return int(name.split("@")[0])
    except Exception:
        return None


def _proc_cpu_sec(pid: int | None) -> float:
    """Cumulative CPU seconds of the JVM process + reaped children (the
    Python/Arrow workers) from /proc/<pid>/stat — host-load-independent,
    unlike wall clock. Returns 0.0 where /proc is unavailable (the cpu
    column then reads as 0 and only wall times are meaningful)."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(") ", 1)[1].split()
        # fields after comm: state=0 … utime=11 stime=12 cutime=13 cstime=14
        ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))
        return ticks / os.sysconf("SC_CLK_TCK")
    except Exception:
        return 0.0


def latest_full_record(lines, sf: str) -> dict | None:
    """The newest BENCH_HISTORY record of a full-HEADLINE run at ``sf``;
    rows of a ``SPARK_GRAFT_BENCH_QUERIES`` subset run are skipped."""
    last = None
    for line in lines:
        if line.strip():
            rec = json.loads(line)
            if rec.get("sf") == sf and not rec.get("subset"):
                last = rec
    return last


def _append_history(
    timings: dict[str, float],
    total: float,
    sf: str,
    mad: dict[str, float] | None = None,
    cpu: dict[str, float] | None = None,
    passes: int | None = None,
    subset: bool = False,
) -> None:
    """Persist per-query history (BENCH_HISTORY.jsonl next to this file) and
    emit a regression diff vs the previous same-sf entry to stderr — the
    single JSON line on stdout stays the driver contract. A move is flagged
    when it exceeds BOTH 1.3x and 4 MADs of the current run's noise, so a
    real regression is distinguishable from host drift."""
    import datetime
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    hist_path = os.path.join(here, "BENCH_HISTORY.jsonl")
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=here,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except Exception:
        sha = ""
    prev = None
    try:
        with open(hist_path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("sf") == sf:
                    prev = rec
    except FileNotFoundError:
        pass
    try:
        with open(hist_path, "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(
                            timespec="seconds"
                        ),
                        "sha": sha,
                        "sf": sf,
                        "total": total,
                        "queries": timings,
                        **({"mad": mad} if mad else {}),
                        **({"cpu": cpu} if cpu else {}),
                        **({"passes": passes} if passes else {}),
                        **({"subset": True} if subset else {}),
                    }
                )
                + "\n"
            )
    except OSError:
        return
    if prev:
        moved = []
        for name, sec in timings.items():
            old = prev.get("queries", {}).get(name)
            if not old or old <= 0:
                continue
            # noise-aware gate: flag only moves beyond both a 1.3x ratio
            # and 4 MADs of this run's per-query noise estimate
            tol = max(0.3 * old, 4 * (mad or {}).get(name, 0.0), 0.2)
            if abs(sec - old) >= tol:
                moved.append(f"{name}: {old}s -> {sec}s")
        if moved:
            print(
                "bench delta vs "
                + (prev.get("sha") or prev.get("ts", "prev"))
                + ": "
                + "; ".join(moved),
                file=sys.stderr,
            )


if __name__ == "__main__":
    main()
