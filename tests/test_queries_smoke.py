"""Smoke every driver-contract query at sf0.001: runs, non-degenerate
schema, deterministic across two runs. The full DuckDB differential runs in
tools/check_correctness.py (sf0.01) — this is the fast pytest layer."""

import os

import pytest

from conftest import SF_SMOKE

from cdk_datalake_analytics_comercial_spark.plans import ORACLES, QUERIES

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_SMOKE), reason="driver testdata not present"
)


@needs_testdata
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    assert len(df.columns) > 0
    n = df.count()
    assert n >= 0
    # queries with an oracle must produce data at smoke scale too (empty
    # results would make the differential gate vacuous)
    if name in ORACLES and name not in ("emb_near_dup",):
        assert n > 0, f"{name} returned 0 rows at sf0.001"


@needs_testdata
def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # every registered query carries a DuckDB oracle — 100% hash-checkable
    # (the IVF oracle is data-dependent and built from the testdata present
    # under @needs_testdata)
    assert set(e.oracle_sql()) == set(e.queries())


@needs_testdata
def test_queries_deterministic(spark):
    # sketch-based ops must be run-to-run stable (seeded, no RNG state)
    for name in ("dedup_minhash", "dedup_simhash_pairs", "emb_lsh_topk"):
        if name not in QUERIES:
            continue
        a = sorted(map(tuple, QUERIES[name](spark, SF_SMOKE).collect()))
        b = sorted(map(tuple, QUERIES[name](spark, SF_SMOKE).collect()))
        assert a == b, f"{name} nondeterministic"


def test_driver_contract_from_foreign_cwd():
    """The driver imports __spark_entry__ from ITS OWN cwd, not the repo —
    Arrow-kernel queries must still run because plans.common ships the
    package zip to the Python workers (addPyFile). Regression: the
    multimodal mapInPandas closures died with ModuleNotFoundError on the
    workers when the driver's cwd was not the repo."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "import __spark_entry__ as e\n"
        "n = e.queries()['multimodal_features'](spark, '/root/testdata/sf0.001').count()\n"
        "assert n > 0, n\n"
        "print('FOREIGN_CWD_OK', n)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd="/tmp", capture_output=True, text=True,
        timeout=300,
    )
    assert "FOREIGN_CWD_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_committed_artifacts_cover_full_registry():
    """The audit trail must be regenerated at the commit that changes the
    registry (round-5 verdict directive): the newest committed two-scale
    correctness artifacts, the plan audit, the bench history, and the
    README/COVERAGE counts must all cover exactly the queries the registry
    exposes at HEAD. A red run here means a registry-changing commit
    shipped with stale artifacts."""
    import glob
    import json
    import os
    import re

    from cdk_datalake_analytics_comercial_spark.plans import QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = set(QUERIES)

    def round_no(p):
        return int(re.search(r"_r(\d+)_", os.path.basename(p)).group(1))

    for scale in ("sf0.01", "sf0.1"):
        files = sorted(
            glob.glob(os.path.join(root, f"CORRECTNESS_LOCAL_r*_{scale}.json")),
            key=round_no,
        )
        assert files, f"no committed local correctness artifact for {scale}"
        with open(files[-1]) as f:
            data = json.load(f)
        assert set(data) == names, (
            f"{os.path.basename(files[-1])} is stale: "
            f"missing {sorted(names - set(data))[:5]}, "
            f"extra {sorted(set(data) - names)[:5]}"
        )

    with open(os.path.join(root, "PLAN_AUDIT.md")) as f:
        audit = f.read()
    rows = {m.group(1) for m in re.finditer(r"^\| (\w+) \|", audit, re.M)}
    assert names <= rows, f"PLAN_AUDIT.md missing {sorted(names - rows)[:5]}"

    from bench import HEADLINE, latest_full_record

    assert set(HEADLINE) <= names, "bench headline names a missing query"
    with open(os.path.join(root, "BENCH_HISTORY.jsonl")) as f:
        last = latest_full_record(f, "0.1")
    assert last is not None, "BENCH_HISTORY has no full-headline sf0.1 record"
    assert set(HEADLINE) <= set(last["queries"]), (
        "BENCH_HISTORY's latest record predates the current headline set: "
        f"missing {sorted(set(HEADLINE) - set(last['queries']))[:5]}"
    )

    n = len(QUERIES)
    for doc in ("README.md", "COVERAGE.md"):
        with open(os.path.join(root, doc)) as f:
            text = f.read()
        counts = {
            int(m)
            for m in re.findall(r"\b(\d+)\s+(?:named|registry)\s+quer", text)
        }
        assert counts == {n}, (
            f"{doc} states query count(s) {sorted(counts)}, registry has {n}"
        )


def test_bench_history_guard_ignores_subset_rows():
    """A SPARK_GRAFT_BENCH_QUERIES subset row (any sf) can neither fail nor
    satisfy the history guard: the guard reads the newest full-headline
    record of its scale factor."""
    import json

    from bench import latest_full_record

    full = {"sf": "0.1", "queries": {"a": 1.0, "b": 1.0}}
    lines = [
        json.dumps(r)
        for r in (
            {"sf": "0.1", "queries": {"a": 9.0}},  # old full run, smaller set
            full,
            {"sf": "1", "queries": {"a": 1.0}},
            {"sf": "0.1", "queries": {"a": 1.0}, "subset": True},
        )
    ]
    assert latest_full_record(lines, "0.1") == full
    assert latest_full_record(lines[3:], "0.1") is None


def test_bench_stdout_line_fits_driver_tail():
    """The driver stores a 2000-char stdout tail and parses the bench JSON
    out of it; rounds 5-6 recorded parsed=null because the line outgrew the
    buffer. The line builder must emit valid JSON under the limit for the
    CURRENT headline set even with worst-case (5-digit) timings."""
    import json

    from bench import HEADLINE, _stdout_line

    timings = {name: 99999.99 for name in HEADLINE}
    line = _stdout_line(timings, sum(timings.values()), "0.1", 5, 12.345)
    assert len(line) <= 1980, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["queries"]
    # realistic timings must keep the overwhelming majority of queries on
    # the line (the fastest few may be dropped; they stay in the history)
    realistic = {name: 1.23 for name in HEADLINE}
    parsed2 = json.loads(
        _stdout_line(realistic, sum(realistic.values()), "0.1", 5, 1.0)
    )
    kept = len(parsed2["queries"])
    assert kept >= min(len(HEADLINE), 75), kept
    if kept < len(HEADLINE):
        assert parsed2["queries_omitted"] == len(HEADLINE) - kept
