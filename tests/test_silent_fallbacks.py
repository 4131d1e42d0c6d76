"""No-Spark guard on broad exception handlers: a bare ``except
Exception:`` can turn a catalog, config or I/O error into a silent
fallback path, so each remaining site is a documented fallback and the
count may only fall."""

import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / (
    "cdk_datalake_analytics_comercial_spark"
)
MAX_BARE_EXCEPT = 14


def test_bare_except_exception_count_does_not_rise():
    sites = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if line.strip() == "except Exception:"
    ]
    assert len(sites) <= MAX_BARE_EXCEPT, sites
