"""Property-based differential for the WHEN-clause MERGE
(`txlog._merge_apply_clauses`, round 12's riskiest machinery): for
random small tables, sources and clause configurations, the Catalyst
single-plan implementation must match a row-at-a-time Python reference
of Delta's documented semantics — first matching clause per row,
SQL-null condition handling (NULL = no match), unmatched-source rows
dropped unless an insert clause applies, unmatched-target rows kept
unless a NOT MATCHED BY SOURCE clause acts."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import ParseException

from cdk_datalake_analytics_comercial_spark.sources import txlog as TX

# conditions draw from a fixed vocabulary with a Python twin each;
# x can be NULL, so every comparison must be null-propagating
_CONDS = {
    None: lambda t, s: True,
    "s.x > t.x": lambda t, s: (
        s["x"] is not None and t["x"] is not None and s["x"] > t["x"]
    ),
    "t.v = 'a'": lambda t, s: t["v"] == "a",
    "s.x >= 2": lambda t, s: s["x"] is not None and s["x"] >= 2,
}

_ROW = st.tuples(
    st.integers(0, 5),
    st.sampled_from(["a", "b", "c"]),
    st.one_of(st.none(), st.integers(0, 4)),
)


def _dedup_first(rows):
    seen, out = set(), []
    for r in rows:
        if r[0] not in seen:
            seen.add(r[0])
            out.append(r)
    return out


@st.composite
def _case(draw):
    tgt = _dedup_first(draw(st.lists(_ROW, min_size=0, max_size=6)))
    src = _dedup_first(draw(st.lists(_ROW, min_size=0, max_size=6)))
    matched = []
    for _ in range(draw(st.integers(0, 2))):
        cond = draw(st.sampled_from([None, "s.x > t.x", "t.v = 'a'"]))
        if draw(st.booleans()):
            matched.append({"cond": cond, "action": "update",
                            "set": {"v": "upper(s.v)", "x": "s.x"}})
        else:
            matched.append({"cond": cond, "action": "delete"})
    not_matched = []
    if draw(st.booleans()):
        not_matched.append({
            "cond": draw(st.sampled_from([None, "s.x >= 2"])),
            "action": "insert",
            "values": {"id": "s.id", "v": "s.v"},
        })
    nmbs = []
    if draw(st.booleans()):
        nmbs.append({"cond": draw(st.sampled_from([None, "t.v = 'a'"])),
                     "action": "delete"})
    clauses = {
        k: v
        for k, v in (
            ("matched", matched),
            ("not_matched", not_matched),
            ("not_matched_by_source", nmbs),
        )
        if v
    }
    return tgt, src, clauses


def _reference(tgt, src, clauses):
    """Row-at-a-time Python twin of Delta's clause semantics."""
    s_by_id = {r[0]: {"id": r[0], "v": r[1], "x": r[2]} for r in src}
    out = []
    for rid, v, x in tgt:
        t = {"id": rid, "v": v, "x": x}
        s = s_by_id.get(rid)
        group = "matched" if s is not None else "not_matched_by_source"
        fired = None
        for cl in clauses.get(group, []):
            ok = _CONDS[cl.get("cond")](t, s or {"v": None, "x": None})
            if ok:
                fired = cl
                break
        if fired is None:
            out.append((rid, v, x))
        elif fired["action"] == "delete":
            continue
        else:  # update
            if group == "matched":
                out.append((rid, s["v"].upper(), s["x"]))
            else:
                out.append((rid, v, x))
    t_ids = {r[0] for r in tgt}
    for rid, v, x in src:
        if rid in t_ids:
            continue
        s = {"id": rid, "v": v, "x": x}
        for cl in clauses.get("not_matched", []):
            if _CONDS[cl.get("cond")]({"v": None, "x": None}, s):
                out.append((rid, v, None))  # x unlisted in VALUES -> NULL
                break
    return sorted(out, key=lambda r: (r[0],))


# deliberate exception to the "Spark out of hypothesis loops" convention:
# the subject IS a Spark plan builder, so each example needs a real merge;
# max_examples bounds the suite cost to ~30s
@given(_case())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_clause_merge_matches_reference(spark, tmp_path_factory, case):
    tgt, src, clauses = case
    if not clauses or not tgt:
        return  # tx_merge clauses need an existing table; empty spec = noop
    p = str(tmp_path_factory.mktemp("mprop") / "t")
    TX.tx_write(
        spark,
        spark.createDataFrame(tgt, "id long, v string, x long"),
        p,
    )
    src_df = spark.createDataFrame(src, "id long, v string, x long")
    TX.tx_merge(spark, src_df, p, keys=["id"], clauses=clauses)
    got = sorted(
        (r.id, r.v, r.x) for r in TX.tx_read(spark, p).collect()
    )
    assert got == _reference(tgt, src, clauses), (tgt, src, clauses)


def _merge_sql(table: str, source: str, clauses: dict) -> str:
    """A clause spec rendered as Delta's MERGE text (groups in the
    order the router reads them; clause order kept inside each)."""
    out = [f"MERGE INTO {table} t USING {source} s ON t.id = s.id"]
    heads = {
        "matched": "MATCHED",
        "not_matched": "NOT MATCHED",
        "not_matched_by_source": "NOT MATCHED BY SOURCE",
    }
    for group, head in heads.items():
        for cl in clauses.get(group, []):
            cond = f" AND {cl['cond']}" if cl.get("cond") else ""
            if cl["action"] == "delete":
                act = "DELETE"
            elif cl["action"] == "update":
                act = "UPDATE SET " + ", ".join(
                    f"{c} = {e}" for c, e in cl["set"].items()
                )
            else:
                act = (
                    f"INSERT ({', '.join(cl['values'])}) "
                    f"VALUES ({', '.join(cl['values'].values())})"
                )
            out.append(f"WHEN {head}{cond} THEN {act}")
    return "\n".join(out)


# the SQL face of the same property: the MERGE text, parsed by Spark and
# routed by core.sql_dml, lands exactly what tx_merge(clauses=…) lands
@given(_case())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_sql_merge_text_matches_clause_merge(spark, tmp_path_factory, case):
    from cdk_datalake_analytics_comercial_spark.core.sql_dml import sql_dml
    from cdk_datalake_analytics_comercial_spark.core.sql_serving import (
        register_txlog_table,
    )

    tgt, src, clauses = case
    if not clauses or not tgt:
        return
    root = tmp_path_factory.mktemp("msql")
    tgt_df = spark.createDataFrame(tgt, "id long, v string, x long")
    src_df = spark.createDataFrame(src, "id long, v string, x long")
    api, sql = str(root / "api"), str(root / "sql")
    for p in (api, sql):
        TX.tx_write(spark, tgt_df, p)
    TX.tx_merge(spark, src_df, api, keys=["id"], clauses=clauses)
    src_df.createOrReplaceTempView("msql_src")
    name = register_txlog_table(spark, "mpropdb", "msql_t", sql)
    text = _merge_sql(name, "msql_src", clauses)
    if any(
        cl.get("cond") is None
        for group in clauses.values()
        for cl in group[:-1]
    ):
        # SQL refuses an unconditional clause that is not the last of its
        # kind (the ones after it could never fire); the API allows it
        with pytest.raises(ParseException, match="OMIT_CONDITION"):
            sql_dml(spark, text)
        return
    sql_dml(spark, text)
    want = sorted(tuple(r) for r in TX.tx_read(spark, api).collect())
    got = sorted(tuple(r) for r in TX.tx_read(spark, sql).collect())
    assert got == want, (tgt, src, clauses)
