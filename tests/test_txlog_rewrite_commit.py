"""Optimistic-commit conflict checks of every txlog rewrite (DV DELETE,
DV UPDATE, DV MERGE, unpartitioned MERGE, incremental and scoped
OPTIMIZE), the DV/rewrite equivalence of DELETE, UPDATE and MERGE, and
the create-no-overwrite claim's error handling.

The races use the pattern of ``test_txlog.py``: the rewrite's first
version claim loses to a commit made inside the patched
``_create_no_overwrite``, so the rewrite's retry sees the winner."""

import os

import pytest
from pyspark.sql import functions as F

from cdk_datalake_analytics_comercial_spark.sources import txlog as TX


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def _on_disk(p: str) -> set[str]:
    """Data files under ``data/`` and sidecar batches under ``_dv/``."""
    out = set()
    for r, _, fs in os.walk(os.path.join(p, "data")):
        out |= {
            os.path.relpath(os.path.join(r, f), p)
            for f in fs
            if f.endswith(".parquet")
        }
    dv = os.path.join(p, "_dv")
    if os.path.isdir(dv):
        out |= {f"_dv/{d}" for d in os.listdir(dv)}
    return out


def _race(spark, p, monkeypatch, winner) -> dict:
    """Make the next version claim lose to ``winner(spark, p)``. The
    returned dict gets ``files``: what the winner put on disk,
    ``version``: the version it committed, and ``added``: the manifest
    paths its commit added."""
    orig = TX._create_no_overwrite
    state: dict = {}

    def racy(sp, dst, text):
        if "files" not in state:
            before = _on_disk(p)
            v0 = TX.current_version(spark, p)
            state["files"] = set()  # re-entrant claims go through
            winner(spark, p)
            state["files"] = _on_disk(p) - before
            state["version"] = TX.current_version(spark, p)
            old = {f["path"] for f in TX.read_manifest(spark, p, v0)["files"]}
            state["added"] = {
                f["path"]
                for f in TX.read_manifest(spark, p, state["version"])["files"]
            } - old
            return False
        return orig(sp, dst, text)

    monkeypatch.setattr(TX, "_create_no_overwrite", racy)
    return state


def _flat(spark, p):
    """Unpartitioned k/v table, k stats, three files."""
    for ks in ([1, 2], [3, 4], [5]):
        TX.tx_write(
            spark,
            spark.createDataFrame([(k, f"v{k}") for k in ks], "k long, v string"),
            p, mode="append", stats_for=["k"],
        )


def _parted(spark, p):
    """k/v table partitioned by part: p1 holds k 1-2, p2 holds k 3-4."""
    for ks in ([1, 2], [3, 4]):
        TX.tx_write(
            spark,
            spark.createDataFrame(
                [(k, f"v{k}", "p1" if k <= 2 else "p2") for k in ks],
                "k long, v string, part string",
            ),
            p, mode="append", partition_by=["part"], stats_for=["k"],
        )


def _append_flat(k):
    def winner(spark, p):
        TX.tx_write(
            spark, spark.createDataFrame([(k, "w")], "k long, v string"), p,
            mode="append", stats_for=["k"],
        )

    return winner


def _append_part(k, part):
    def winner(spark, p):
        TX.tx_write(
            spark,
            spark.createDataFrame([(k, "w", part)], "k long, v string, part string"),
            p, mode="append", partition_by=["part"], stats_for=["k"],
        )

    return winner


def _src(spark, data):
    return spark.createDataFrame(data, "k long, v string, part string")


# name → (table setup, the rewrite, overlapping winner, disjoint winner,
# the rewrite's rows on a table that also holds the disjoint winner's row)
CASES = {
    "dv_delete": (
        _flat,
        lambda spark, p: TX.tx_delete(spark, p, where={"k": (2, 2)}, use_dv=True),
        _append_flat(2),
        _append_flat(100),
        [(1, "v1"), (3, "v3"), (4, "v4"), (5, "v5"), (100, "w")],
    ),
    "dv_update": (
        _flat,
        lambda spark, p: TX.tx_update(
            spark, p, where={"k": (2, 2)}, assignments={"v": F.lit("u")},
            use_dv=True,
        ),
        _append_flat(2),
        _append_flat(100),
        [(1, "v1"), (2, "u"), (3, "v3"), (4, "v4"), (5, "v5"), (100, "w")],
    ),
    "dv_merge": (
        _parted,
        lambda spark, p: TX.tx_merge(
            spark, _src(spark, [(1, "M", "p1"), (7, "N", "p1")]), p,
            keys=["k"], partition_by=["part"], use_dv=True,
        ),
        _append_part(9, "p1"),
        _append_part(9, "p2"),
        [(1, "M", "p1"), (2, "v2", "p1"), (3, "v3", "p2"), (4, "v4", "p2"),
         (7, "N", "p1"), (9, "w", "p2")],
    ),
    "merge_unpartitioned": (
        _flat,
        lambda spark, p: TX.tx_merge(
            spark,
            spark.createDataFrame([(1, "M"), (7, "N")], "k long, v string"),
            p, keys=["k"],
        ),
        _append_flat(100),
        None,  # conflicts with any concurrent commit: no disjoint case
        None,
    ),
    "compact_small": (
        _flat,
        lambda spark, p: TX.tx_compact(spark, p, small_bytes=1 << 30),
        lambda spark, p: TX.tx_delete(spark, p, where={"k": (1, 1)}),
        _append_flat(100),
        [(1, "v1"), (2, "v2"), (3, "v3"), (4, "v4"), (5, "v5"), (100, "w")],
    ),
    "compact_scoped": (
        _parted,
        lambda spark, p: TX.tx_compact(
            spark, p, partition_where={"part": "p1"}, n_files=1
        ),
        lambda spark, p: TX.tx_write(
            spark, _src(spark, [(8, "w", "p1")]), p,
            mode="overwrite_dynamic", partition_by=["part"],
        ),
        _append_part(9, "p2"),
        [(1, "v1", "p1"), (2, "v2", "p1"), (3, "v3", "p2"), (4, "v4", "p2"),
         (9, "w", "p2")],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_rewrite_conflicts_on_overlapping_concurrent_commit(
    spark, tmp_path, monkeypatch, case
):
    """The winner's commit invalidates what the rewrite read: the
    rewrite raises, leaves the winner's snapshot as it was, and reaps
    its own data batch and DV sidecar."""
    setup, op, overlap, _, _ = CASES[case]
    p = str(tmp_path / case)
    setup(spark, p)
    before = _on_disk(p)
    state = _race(spark, p, monkeypatch, overlap)
    with pytest.raises(TX.TxConflictError):
        op(spark, p)
    monkeypatch.undo()
    assert TX.current_version(spark, p) == state["version"]
    assert _on_disk(p) == before | state["files"]


@pytest.mark.parametrize(
    "case", sorted(c for c, spec in CASES.items() if spec[3] is not None)
)
def test_rewrite_carries_disjoint_concurrent_commit(
    spark, tmp_path, monkeypatch, case
):
    """A winner that touches nothing the rewrite read or could match is
    no conflict: the retried commit lands and carries the winner's file."""
    setup, op, _, disjoint, expected = CASES[case]
    p = str(tmp_path / case)
    setup(spark, p)
    state = _race(spark, p, monkeypatch, disjoint)
    v = op(spark, p)
    monkeypatch.undo()
    assert v == TX.current_version(spark, p)
    live = {f["path"] for f in TX.read_manifest(spark, p, v)["files"]}
    assert state["added"] and state["added"] <= live
    assert rows(TX.tx_read(spark, p)) == expected


def test_unpartitioned_merge_conflicts_with_metadata_only_commit(
    spark, tmp_path, monkeypatch
):
    """An unpartitioned MERGE replaces the whole table, so even a
    concurrent property change is a conflict."""
    p = str(tmp_path / "props")
    _flat(spark, p)
    before = _on_disk(p)
    _race(
        spark, p, monkeypatch,
        lambda spark, p: TX.tx_set_properties(spark, p, {"owner": "x"}),
    )
    with pytest.raises(TX.TxConflictError):
        TX.tx_merge(
            spark, spark.createDataFrame([(1, "M")], "k long, v string"),
            p, keys=["k"],
        )
    monkeypatch.undo()
    assert _on_disk(p) == before
    assert TX.tx_properties(spark, p)["owner"] == "x"
    assert rows(TX.tx_read(spark, p)) == [
        (1, "v1"), (2, "v2"), (3, "v3"), (4, "v4"), (5, "v5"),
    ]


@pytest.mark.parametrize("use_dv", [False, True])
def test_dv_and_rewrite_give_the_same_table(spark, tmp_path, use_dv):
    """The same DELETE / UPDATE / MERGE sequence through deletion vectors
    and through file rewrites: equal rows and equal exact counts, with
    NULLs in the predicate and key columns, a predicate that matches
    nothing and an empty MERGE source."""
    p = str(tmp_path / f"eq_{use_dv}")
    schema = "k long, v string, part string"
    TX.tx_write(
        spark,
        spark.createDataFrame(
            [(1, "a", "p1"), (2, None, "p1"), (None, "n", "p1"),
             (3, "c", "p2"), (4, None, "p2"), (None, None, "p2"),
             (5, "e", "p2")],
            schema,
        ),
        p, partition_by=["part"], stats_for=["k"],
    )
    # rewritten files keep k stats, so both strategies can prune them
    TX.tx_set_properties(spark, p, {"dataSkippingColumns": "k"})
    snapshots = []

    def snap():
        got = sorted((tuple(r) for r in TX.tx_read(spark, p).collect()), key=repr)
        snapshots.append((got, TX.tx_count(spark, p)))

    TX.tx_delete(spark, p, where={"k": (2, 3)}, use_dv=use_dv)
    snap()
    # NULL v never satisfies the condition: those rows stay
    TX.tx_delete(spark, p, condition="v = 'n' OR v = 'e'", use_dv=use_dv)
    snap()
    TX.tx_update(
        spark, p, condition="v IS NULL", assignments={"v": F.lit("was-null")},
        use_dv=use_dv,
    )
    snap()
    # nothing matches: no new version, no sidecar
    v = TX.current_version(spark, p)
    on_disk = _on_disk(p)
    assert TX.tx_delete(spark, p, where={"k": (100, 200)}, use_dv=use_dv) == v
    assert TX.tx_update(
        spark, p, where={"k": (100, 200)}, assignments={"v": F.lit("x")},
        use_dv=use_dv,
    ) == v
    assert _on_disk(p) == on_disk
    # a NULL source key matches no target row; NULL-key target rows stay
    TX.tx_merge(
        spark,
        spark.createDataFrame(
            [(1, "A", "p1"), (None, "src-null", "p1"), (6, "f", "p2")], schema
        ),
        p, keys=["k"], partition_by=["part"], use_dv=use_dv,
    )
    snap()
    TX.tx_merge(
        spark, spark.createDataFrame([], schema), p, keys=["k"],
        partition_by=["part"], use_dv=use_dv,
    )
    snap()
    assert snapshots[-1] == snapshots[-2]  # an empty source changes nothing
    assert all(n == len(got) for got, n in snapshots)
    assert snapshots[-1][0] == sorted(
        [(1, "A", "p1"), (None, "src-null", "p1"), (4, "was-null", "p2"),
         (None, "was-null", "p2"), (6, "f", "p2")],
        key=repr,
    )


class _DeniedFS:
    def create(self, p, overwrite):
        raise PermissionError("denied")


def test_create_no_overwrite_surfaces_filesystem_errors(spark, monkeypatch):
    """Only an existing file is a lost claim: a permission or I/O error
    of the filesystem raises instead of reading as contention."""
    monkeypatch.setattr(TX, "_as_local_dir", lambda path: None)
    monkeypatch.setattr(TX, "_fs", lambda sp, path: (_DeniedFS(), path, None))
    with pytest.raises(PermissionError):
        TX._create_no_overwrite(spark, "hdfs://nn/t/_txlog/1.json", "{}")


def test_create_no_overwrite_second_hadoop_claim_loses(spark, tmp_path, monkeypatch):
    """Through Hadoop's create (non-posix route), the second claim of a
    path returns False and keeps the first claim's text."""
    monkeypatch.setattr(TX, "_as_local_dir", lambda path: None)
    dst = f"file:{tmp_path}/_txlog/00000000000000000001.json"
    assert TX._create_no_overwrite(spark, dst, "first") is True
    assert TX._create_no_overwrite(spark, dst, "second") is False
    monkeypatch.undo()
    assert TX._read_text(spark, dst) == "first"
