"""Distributed connected components over a pair/edge DataFrame.

The dedup family (``operators.dedup``) emits near-duplicate PAIRS; an actual
training-data pipeline needs CLUSTERS (transitive closure of the pair graph)
so it can keep exactly one canonical document per duplicate group. The
reference has no graph operator at all (its dedup surface is the engine
extension, SURVEY §2 training-data block), so this is Spark-native design:

Algorithm: iterative **min-label propagation with pointer jumping** (the
"Hash-Min + path compression" scheme from Rastogi et al., "Finding Connected
Components in Map-Reduce in Logarithmic Rounds", ICDE 2013):

- every node starts labeled with itself;
- each round, a node takes the min of its own label and its neighbors'
  labels (one shuffle: edges ⋈ labels, groupBy);
- then labels are compressed through one pointer jump —
  ``label := label(label)`` (second shuffle: labels ⋈ labels) — which is
  what turns O(diameter) rounds into O(log n);
- stop when a round changes no label.

Scale notes (100 TB / 1000 executors):
- Near-dup graphs are clique-heavy with tiny diameters, so rounds ≈ 2-4 in
  practice; the pointer jump bounds pathological chain shapes at O(log n).
- Each round is two partial-agg shuffles on the node id — AQE coalesces the
  tail as components collapse and the changed set shrinks.
- ``localCheckpoint`` after every round truncates the lineage (iterative
  joins otherwise stack O(rounds) plan depth and re-execute on each action)
  and doubles as the materialization point for the cheap convergence count.
  On a real cluster prefer ``spark.sparkContext.setCheckpointDir`` +
  ``checkpoint()`` for fault tolerance; local mode has no reliable store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contract_edges(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Local-contraction prepass: per-Arrow-batch union-find collapses the
    edge set to STAR edges (node → local component root) before the
    iterative rounds.

    Connectivity-preserving: for every input edge (u, v), u and v share a
    batch-local root, so the star edges keep them connected; chains that
    span batches are closed by the iterative phase as before. The payoff is
    edge-count: near-dup pair generators emit O(k²) pairs per k-clique
    (every LSH/shingle bucket pair), and a clique co-located in one batch
    contracts to k−1 star edges — at 100 TB that is the difference between
    shuffling the quadratic pair list every round and shuffling ~one edge
    per node. Runs on whatever partitioning the pairs already have — NO
    extra shuffle; the per-batch union-find is the one place imperative
    Python touches the data, Arrow-batched via mapInPandas.
    """

    def contract(batches):
        for pdf in batches:
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for a, b in zip(pdf[src], pdf[dst]):
                a, b = int(a), int(b)
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min keeps labels deterministic pre-symmetrize
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            out = [(n, find(n)) for n in parent]
            import pandas as pd

            yield pd.DataFrame(
                [(n, r) for n, r in out if n != r], columns=[src, dst]
            )

    return pairs.select(
        F.col(src).cast("long"), F.col(dst).cast("long")
    ).mapInPandas(contract, schema=f"{src} long, {dst} long")


def default_broadcast_max_nodes(spark) -> int:
    """The connected-components label broadcast cap, derived from the
    session's broadcast budget instead of a fixed node count: a broadcast
    label relation costs well over its raw 16 B/node once the hash relation
    and the driver copy are counted, so allow ~32 B/node against 8x the
    configured ``spark.sql.autoBroadcastJoinThreshold`` (the deliberate-hint
    headroom; the planner alone would never broadcast these stat-less
    frames). Default threshold 10 MB -> ~2.5M nodes; -1 disables it.

    The threshold is read as the typed byte count: the string conf renders
    with a unit (``'10485760b'``), which ``int()`` cannot parse."""
    thr = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return max(0, (8 * max(thr, 0)) // 32)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    pre_contract: bool = False,
    broadcast_max_nodes: int | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; ``component``
    is the minimum node id reachable through the undirected pair graph.

    Deterministic (min-id labeling), so oracle-checkable against a recursive
    transitive-closure CTE.

    Join strategy is picked DELIBERATELY (guide §3.1): the per-round frames
    are localCheckpoint RDDs whose size statistics Spark does not know
    (``defaultSizeInBytes`` = max), so the planner falls back to
    SortMergeJoin even for a few-hundred-node graph — two shuffles + four
    sorts per round of pure overhead. The node count is already materialized
    (the convergence loop counts rows anyway), so when it is at most
    ``broadcast_max_nodes`` (default: derived from the session's
    ``spark.sql.autoBroadcastJoinThreshold`` at ~32 B/node against 8x the
    threshold — ~2.5M nodes at the 10 MB default) every round hints the
    label side broadcast; a corpus-scale graph keeps the shuffled SMJ
    rounds unchanged."""
    if pre_contract:
        pairs = contract_edges(pairs, src, dst)
    # symmetrize in ONE pass over the pair pipeline: explode each pair into
    # both directions (a union of two branches would re-execute the possibly
    # expensive upstream pair plan once per branch — no exchange reuse
    # across union branches), then checkpoint the edge list once for the
    # iteration
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        # lazy: materialized inside the n_nodes count below (labels derive
        # from edges), merging what used to be a separate warm-up job
        .localCheckpoint(eager=False)
    )
    # round 1 reads labels twice (nbr_min join + stepped join); lazy
    # checkpoint materializes it inside round 1's first job instead of
    # paying a separate warm-up action
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    # counting labels picks the per-round join strategy (see docstring) AND
    # materializes its lazy checkpoint in the same job — round 1 would have
    # paid that materialization anyway, so the count is effectively free
    n_nodes = labels.count()
    if broadcast_max_nodes is None:
        broadcast_max_nodes = default_broadcast_max_nodes(pairs.sparkSession)
    bcast = n_nodes <= broadcast_max_nodes

    for _ in range(max_iter):
        # ONE job per round (r13 verdict #4): the round's frame checkpoints
        # LAZILY and the convergence count is the action that materializes
        # it — the eager-checkpoint-then-count shape paid two jobs per
        # round for the same work
        jumped = cc_round(edges, labels, broadcast_labels=bcast).localCheckpoint(
            eager=False
        )
        changed = jumped.filter(F.col("label") != F.col("old_label")).count()
        labels = jumped.select("node", "label")
        if changed == 0:
            break

    return labels.select("node", F.col("label").alias("component"))


def cc_round(
    edges: DataFrame, labels: DataFrame, broadcast_labels: bool = False
) -> DataFrame:
    """ONE Hash-Min + pointer-jump round of :func:`connected_components`:
    (node, old_label, label). Factored out so the per-ROUND physical plan
    is independently compilable — the converged result the audit tooling
    would otherwise see is a checkpoint read with zero shuffles, which
    hides the O(log n) rounds × per-round shuffles the operator really
    costs (tools/plan_report.py marks these queries ``iterative`` and
    reports this round's shape).

    ``broadcast_labels=True`` hints every label-sized side broadcast —
    set by :func:`connected_components` from the COUNTED node total
    (checkpointed inputs expose no size statistics, so the planner alone
    would always sort-merge; guide §3.1). The hint changes strategy only,
    never results."""
    hint = F.broadcast if broadcast_labels else (lambda df: df)
    nbr_min = (
        edges.join(hint(labels.select(F.col("node").alias("v"), "label")), "v")
        .groupBy("u")
        .agg(F.min("label").alias("nbr_min"))
    )
    stepped = labels.join(
        hint(nbr_min.select(F.col("u").alias("node"), "nbr_min")),
        "node",
        "left",
    ).select(
        "node",
        F.col("label").alias("old_label"),
        F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
    )
    # pointer jump: label := min(label, label(label)) — path compression
    return (
        stepped.alias("a")
        .join(
            hint(
                stepped.select(
                    F.col("node").alias("label"), F.col("label").alias("hop")
                ).alias("b")
            ),
            "label",
            "left",
        )
        .select(
            "node",
            "old_label",
            F.least(F.col("label"), F.coalesce("hop", F.col("label"))).alias(
                "label"
            ),
        )
    )


def keep_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Full dedup output: drop every non-canonical member of each duplicate
    cluster (canonical = min id in the component); rows untouched by any pair
    survive. Left-anti join against the small loser set — broadcastable at
    any scale where dup clusters are a small fraction of the corpus."""
    losers = connected_components(pairs, src, dst).filter(
        F.col("node") != F.col("component")
    )
    return df.join(
        F.broadcast(losers.select(F.col("node").alias(id_col))), id_col, "left_anti"
    )
