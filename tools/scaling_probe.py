"""Scaling probe: run the headline queries at every available scale factor
and record how runtime grows with data size.

Local evidence for the 100 TB story: a query whose time grows ~linearly (or
sublinearly, for pruned scans) across the 100× sf0.001 → sf0.1 range is
shuffle- and plan-stable; a superlinear one has a quadratic candidate set or
a collapsing partition. Writes SCALING.md with per-query times and the
0.1/0.01 growth ratio (data grows 10×; ratios well under ~10 indicate the
fixed per-query overhead still dominates at these toy sizes, ratios near 10
are data-bound linear, and anything well above 10 is a red flag).

Usage: python tools/scaling_probe.py [n_passes]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["0.001", "0.01", "0.1"]

KEEP_MARKER = "<!-- hand-written sections below; scaling_probe keeps them -->"

# document-only queries probed one decade further (generated sf1 corpus)
DEDUP_FAMILY = [
    "dedup_exact",
    "dedup_minhash",
    "dedup_incremental",
    "dedup_incremental_probe",
    "dedup_ngram_jaccard",
    "dedup_clusters",
]

# text/corpus family probed one decade further (same generated sf1
# corpus as the dedup family): the per-doc scoring pipelines should be
# data-bound linear (single scan, shuffle-free or one bounded shuffle)
TEXT_FAMILY = [
    "text_repetition",
    "tfidf_keywords",
    "decontam_overlap",
    "corpus_shuffle",
]

# txlog SQL-serving family probed one decade further (same generated sf1
# corpus): the pushdown point/range lookup should stay near-FLAT across
# the decade (stats-pruned scan opens ~the same files); the snapshot
# aggregate and the change-feed read are data-bound linear
TXSQL_FAMILY = [
    "sql_pushdown_lookup",
    "txlog_changes_batch",
    # the DML-router rows (VERDICT r11 #7): parser/UX cost is constant,
    # so the per-decade growth must track the underlying file-pruned
    # rewrite + final aggregate, not the statement count
    "sql_txlog_dml",
    "sql_insert_overwrite_dynamic",
    "sql_merge_conditional",
    "sql_delete_in_subquery",
    # round-13 additions: schema evolution / COPY INTO ledger /
    # generated-column pruning / type widening / EXISTS routing —
    # all metadata- or pruning-bound, so the decade ratio must stay flat
    "sql_merge_evolution",
    "sql_copy_into",
    "sql_generated_pruning",
    "sql_widening_lifecycle",
    "sql_delete_exists",
]

# events/sketch family probed one decade further (generated sf1 events +
# orders/customer/nation — both the fact AND the user/customer key
# population grow 10x, the production regime for sessionization and
# cardinality sketches)
EVENTS_FAMILY = [
    "events_hll_users",
    "events_funnel",
    "events_sessions",
    "approx_distinct_hll",
    "monthly_gap_fill",
]

# ANN family probed one decade further too (generated sf1 embeddings,
# 10x vectors, FIXED query set — corpus growth is the production axis)
EMB_FAMILY = [
    "emb_cosine_topk",
    "emb_lsh_multitable",
    "emb_ivfpq_residual_topk",
    "emb_pq_topk",
    "emb_ivfpq_topk",
    "emb_ivfpq_search_index",
    "emb_rerank_topk",
]


def main() -> None:
    n_passes = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    from bench import HEADLINE

    from cdk_datalake_analytics_comercial_spark.core import get_spark
    from cdk_datalake_analytics_comercial_spark.plans import QUERIES

    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # warm JVM + Arrow workers
    QUERIES["pricing_summary"](spark, "/root/testdata/sf0.1").write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(64).repartition(64).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()

    times: dict[str, dict[str, float]] = {q: {} for q in HEADLINE}
    for sf in SFS:
        sf_dir = f"/root/testdata/sf{sf}"
        for name in HEADLINE:
            best = float("inf")
            for _ in range(n_passes):
                t0 = time.time()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            times[name][sf] = round(best, 3)
            print(f"sf{sf} {name}: {best:.3f}s", flush=True)

    # one more decade for the dedup/cluster family (the steepest 0.01->0.1
    # steps): a generated sf1 documents corpus mirroring the driver
    # corpus's shape (tools/gen_sf1_docs.py — same vocab/length/lang mix
    # and planted-dup RATE, not an upsample, so candidate density scales
    # honestly)
    from tools.gen_sf1_docs import (
        generate,
        generate_embeddings,
        generate_events,
        generate_orders_dims,
    )

    sf1_dir = generate("/tmp/spark_graft_sf1")
    generate_embeddings(sf1_dir)
    generate_events(sf1_dir)
    generate_orders_dims(sf1_dir)
    sf1_times: dict[str, float] = {}
    # the sf1 cells pay big first-touch costs (page-cache cold 10x corpus,
    # persisted-index reads, GC pressure from the preceding family) that
    # min-of-2 cannot shake — observed 14s min-of-2 vs a 4.4s steady state
    # on the SAME query/session; these 13 cells are cheap, so give min
    # one extra pass to find steady state
    sf1_passes = max(n_passes, 3)
    for name in (
        DEDUP_FAMILY + TEXT_FAMILY + TXSQL_FAMILY + EVENTS_FAMILY + EMB_FAMILY
    ):
        best = float("inf")
        for _ in range(sf1_passes):
            t0 = time.time()
            QUERIES[name](spark, sf1_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.time() - t0)
        sf1_times[name] = round(best, 3)
        print(f"sf1 {name}: {best:.3f}s", flush=True)

    lines = [
        "# SCALING — measured headline-query times across scale factors",
        "",
        "Generated by `tools/scaling_probe.py` (min of "
        f"{n_passes} passes per cell, local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]).",
        "Data grows 10× per column step; the last column is t(sf0.1)/t(sf0.01).",
        "Ratios ≪ 10 ⇒ fixed overhead dominates at toy sizes; ≈ 10 ⇒ data-bound",
        "linear; ≫ 10 ⇒ superlinear red flag (quadratic candidates or a",
        "collapsing partition). Host is multi-tenant — treat ±50% as noise.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | 0.1/0.01 |",
        "|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        t1, t2, t3 = (times[name][sf] for sf in SFS)
        ratio = round(t3 / t2, 2) if t2 > 0 else float("nan")
        lines.append(f"| {name} | {t1} | {t2} | {t3} | {ratio} |")
    total = [round(sum(times[q][sf] for q in HEADLINE), 1) for sf in SFS]
    lines.append(
        f"| **total** | {total[0]} | {total[1]} | {total[2]} | "
        f"{round(total[2] / total[1], 2)} |"
    )
    lines += [
        "",
        "## Dedup family: one more decade (generated sf1 corpus)",
        "",
        "`dedup_incremental` is the COLD row (the fingerprint index is",
        "rebuilt inside the measured window — what a first-ever batch pays);",
        "`dedup_incremental_probe` is the AMORTIZED row (the index is",
        "persisted band-clustered once per corpus and the measured query is",
        "the probe alone — what every subsequent increment pays). The probe",
        "row's step ratio is the honest per-batch scaling of the production",
        "shape.",
        "",
        "50,000 docs from `tools/gen_sf1_docs.py` — same length/language mix",
        "and planted-duplicate RATE as the driver corpus, with Heaps-law",
        "vocabulary growth (31→70 words) holding docs-per-shingle density",
        "constant (a fresh sample, not an upsample, so near-dup candidate",
        "density scales honestly). Data grows 10× per step; sublinear ratios",
        "certify the banded-bucket / posting-list / Hash-Min shapes one",
        "decade beyond the driver's largest fixture.",
        "",
        "| query | sf0.1 s | sf1 s | 1/0.1 |",
        "|---|---|---|---|",
    ]
    for name in DEDUP_FAMILY:
        t3, t4 = times[name]["0.1"], sf1_times[name]
        lines.append(
            f"| {name} | {t3} | {t4} | {round(t4 / t3, 2) if t3 > 0 else float('nan')} |"
        )
    fam_tot = [
        round(sum(times[q]["0.1"] for q in DEDUP_FAMILY), 1),
        round(sum(sf1_times[q] for q in DEDUP_FAMILY), 1),
    ]
    lines.append(
        f"| **total** | {fam_tot[0]} | {fam_tot[1]} | "
        f"{round(fam_tot[1] / fam_tot[0], 2)} |"
    )
    lines += [
        "",
        "## Text/corpus family: one more decade (same generated sf1 corpus)",
        "",
        "Per-document scoring and ordering pipelines over the 50,000-doc",
        "sf1 corpus. `text_repetition` (dup-line/top-bigram signals) and",
        "the quality pipelines are single-scan; `tfidf_keywords` pays one",
        "(doc, token) shuffle + a broadcast document-frequency map;",
        "`decontam_overlap` is a broadcast shingle semi-join (the corpus",
        "never shuffles); `corpus_shuffle` is the distributed 256-bucket",
        "prefix-sum ordering. Ratios ≈ 10 are data-bound linear — these",
        "families have no candidate-pair blowup to go quadratic on.",
        "",
        "| query | sf0.1 s | sf1 s | 1/0.1 |",
        "|---|---|---|---|",
    ]
    for name in TEXT_FAMILY:
        t3, t4 = times[name]["0.1"], sf1_times[name]
        lines.append(
            f"| {name} | {t3} | {t4} | {round(t4 / t3, 2) if t3 > 0 else float('nan')} |"
        )
    txt_tot = [
        round(sum(times[q]["0.1"] for q in TEXT_FAMILY), 1),
        round(sum(sf1_times[q] for q in TEXT_FAMILY), 1),
    ]
    lines.append(
        f"| **total** | {txt_tot[0]} | {txt_tot[1]} | "
        f"{round(txt_tot[1] / txt_tot[0], 2)} |"
    )
    lines += [
        "",
        "## txlog SQL-serving family: one more decade (same sf1 corpus)",
        "",
        "Name-addressed SQL over txlog tables built from the 50,000-doc",
        "corpus. `sql_pushdown_lookup` is the pruning row: the WHERE range",
        "reaches `TxLogBatchReader.pushFilters` and the scan opens only the",
        "files whose doc_id stats intersect [40, 260] — a near-flat ratio",
        "across the decade is the file-skipping story (the table has 10×",
        "the rows but the lookup touches the same ~2 of 8 range-clustered",
        "files). `txlog_changes_batch` (bounded change-feed read + aggregate)",
        "is the data-bound-linear control; both pay a one-time cached",
        "table build OUTSIDE steady state (min-of-N drops it).",
        "",
        "| query | sf0.1 s | sf1 s | 1/0.1 |",
        "|---|---|---|---|",
    ]
    for name in TXSQL_FAMILY:
        t3, t4 = times[name]["0.1"], sf1_times[name]
        lines.append(
            f"| {name} | {t3} | {t4} | {round(t4 / t3, 2) if t3 > 0 else float('nan')} |"
        )
    sql_tot = [
        round(sum(times[q]["0.1"] for q in TXSQL_FAMILY), 1),
        round(sum(sf1_times[q] for q in TXSQL_FAMILY), 1),
    ]
    lines.append(
        f"| **total** | {sql_tot[0]} | {sql_tot[1]} | "
        f"{round(sql_tot[1] / sql_tot[0], 2)} |"
    )
    lines += [
        "",
        "## Events/sketch family: one more decade (generated sf1 events + orders)",
        "",
        "1,000,000 events over 15,000 users (10× sf0.1 on BOTH axes —",
        "growing only events would shrink per-user gaps 10× and flatter",
        "the sessionization unrealistically) and 1,500,000 orders over",
        "150,000 customers. `events_sessions`/`events_funnel` shuffle once",
        "on user_id and window within the partition; `events_hll_users` and",
        "`approx_distinct_hll` are mergeable-register sketches whose state",
        "is CONSTANT-SIZE per group (map-side partial merge — the decade",
        "step measures the scan, not the sketch); `monthly_gap_fill`'s",
        "nation × month grid is constant across the decade, only the",
        "aggregated fact grows. Ratios ≈ 10 are data-bound linear; the",
        "sketch rows should sit well below the raw 10×.",
        "",
        "| query | sf0.1 s | sf1 s | 1/0.1 |",
        "|---|---|---|---|",
    ]
    for name in EVENTS_FAMILY:
        t3, t4 = times[name]["0.1"], sf1_times[name]
        lines.append(
            f"| {name} | {t3} | {t4} | {round(t4 / t3, 2) if t3 > 0 else float('nan')} |"
        )
    ev_tot = [
        round(sum(times[q]["0.1"] for q in EVENTS_FAMILY), 1),
        round(sum(sf1_times[q] for q in EVENTS_FAMILY), 1),
    ]
    lines.append(
        f"| **total** | {ev_tot[0]} | {ev_tot[1]} | "
        f"{round(ev_tot[1] / ev_tot[0], 2)} |"
    )
    lines += [
        "",
        "## ANN family: one more decade (generated sf1 embeddings)",
        "",
        "20,000 unit 64-dim vectors (10× sf0.1, same measured shape —",
        "uniform random unit vectors, geometry-free labels) with the query",
        "set FIXED at `vec_id < 20`: corpus growth is the production axis.",
        "`emb_cosine_topk` is the honest linear baseline (brute force scans",
        "everything); the indexed paths' flatter ratios are the point —",
        "IVF/PQ scan cells/codes, and the persisted IVF-PQ index amortizes",
        "its build exactly like the dedup probe row.",
        "",
        "| query | sf0.1 s | sf1 s | 1/0.1 |",
        "|---|---|---|---|",
    ]
    for name in EMB_FAMILY:
        t3, t4 = times[name]["0.1"], sf1_times[name]
        lines.append(
            f"| {name} | {t3} | {t4} | {round(t4 / t3, 2) if t3 > 0 else float('nan')} |"
        )
    emb_tot = [
        round(sum(times[q]["0.1"] for q in EMB_FAMILY), 1),
        round(sum(sf1_times[q] for q in EMB_FAMILY), 1),
    ]
    lines.append(
        f"| **total** | {emb_tot[0]} | {emb_tot[1]} | "
        f"{round(emb_tot[1] / emb_tot[0], 2)} |"
    )
    lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md")
    # hand-written sections after KEEP_MARKER survive a regeneration
    tail = ""
    if os.path.exists(out):
        with open(out) as f:
            old = f.read()
        if KEEP_MARKER in old:
            tail = "\n" + old[old.index(KEEP_MARKER):]
    with open(out, "w") as f:
        f.write("\n".join(lines) + tail)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
