"""Distributed-exact global-order windows (plans/relational.py): the staged
range-bucket shape (forced via SPARK_GRAFT_GLOBAL_WINDOW_MAX_INPUT=0) must
return byte-identical rows to the classic single-partition-window shape,
and the staged physical plan must not run a data-sized single-partition
Window."""

import pytest

from cdk_datalake_analytics_comercial_spark.plans.relational import (
    q_customer_value_deciles,
    q_orders_abc_pareto,
)

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "q", [q_customer_value_deciles, q_orders_abc_pareto]
)
def test_staged_matches_single_partition(q, spark, monkeypatch):
    classic = {tuple(r) for r in q(spark, SF).collect()}
    monkeypatch.setenv("SPARK_GRAFT_GLOBAL_WINDOW_MAX_INPUT", "0")
    staged = {tuple(r) for r in q(spark, SF).collect()}
    assert staged == classic and classic


def test_staged_plan_has_no_data_single_partition_window(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_GLOBAL_WINDOW_MAX_INPUT", "0")
    df = q_customer_value_deciles(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the data window is hash-partitioned by the range bucket; the only
    # single-partition exchange feeds the P-row bucket-count window
    assert "windowspecdefinition(_b" in plan


@pytest.mark.parametrize(
    "q", [q_customer_value_deciles, q_orders_abc_pareto]
)
def test_staged_matches_single_partition_with_null_order_values(
    q, spark, monkeypatch, tmp_path
):
    """NULL order values sort last under DESC in the classic window; the
    staged shape must bucket them last too, not into the top bucket."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for table, key, value in (
        ("orders", "o_custkey", "o_totalprice"),
        ("lineitem", "l_partkey", "l_extendedprice"),
    ):
        tab = pq.read_table(f"{SF}/{table}.parquet")
        hit = pc.equal(pc.bit_wise_and(tab[key], 7), 0)
        nulled = pc.if_else(hit, None, tab[value])
        tab = tab.set_column(tab.schema.get_field_index(value), value, nulled)
        pq.write_table(tab, str(tmp_path / f"{table}.parquet"))
    sf = str(tmp_path)
    classic = {tuple(r) for r in q(spark, sf).collect()}
    monkeypatch.setenv("SPARK_GRAFT_GLOBAL_WINDOW_MAX_INPUT", "0")
    staged = {tuple(r) for r in q(spark, sf).collect()}
    assert staged == classic and classic
