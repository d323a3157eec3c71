"""k-core decomposition by iterative peeling over the KG edge set.

The k-core of a graph is its maximal subgraph in which every node has
degree >= k — the standard graph-health / dense-region primitive
(Seidman 1983; the peeling algorithm is the textbook O(|E|) sequential
method, here expressed as bounded DataFrame rounds). All arithmetic is
integer degree counting over deterministic sets, so the result (node
id, degree-within-core) is exactly value-oracle-able against a
pure-Python replica.

EXECUTION (r6 rewrite — incremental degree maintenance): the r5 shape
re-aggregated degrees over the full 2|E|-row endpoint union and
anti-join-rewrote (and re-checkpointed) the full pair list EVERY round,
even though after the first round the peel frontier collapses (sf0.1:
round 1 peels 13,788 of ~190k nodes, rounds 2-3 peel 14 — while the
pair list stays at ~1.33M rows, >99% untouched). The peel recurrence
only needs the DELTA: when frontier L is removed, a surviving neighbor
v loses one degree per (L, v) edge. So:

- the canonical u<v pair list is materialized ONCE and never rewritten;
- degrees are aggregated ONCE (map-side-combined groupBy; the shuffle
  carries <= |V| rows regardless of |E|), then maintained per round by
  joining the checkpointed pairs against the broadcast frontier (a
  map-side scan, no pair-sized shuffle or checkpoint) and applying the
  aggregated decrements to the <=|V|-row degree vector;
- the cumulative removed set R (needed so a dead edge never decrements
  twice) is broadcast while it fits; past ``_BCAST_MAX_PEELED`` the
  pair list is COMPACTED (one anti-join rewrite, R resets to empty) —
  i.e. the operator degrades to exactly one r5-style round per gate
  overflow instead of broadcasting unbounded state;
- termination = an empty frontier. The frontier count rides the same
  <=|V|-row materialization that updates the degree vector (observed
  by the checkpoint's own job, no count job), and the frontier itself
  is a filter over that checkpointed vector, not a frame of its own.

The r5 dictionary-encoded path is GONE: degree counting is
count-by-key, which hash-aggregates fine on string keys (unlike
label-prop's ``min(<string>)``, which is why communities.py still
encodes) — A/B at sf0.1/32 lanes the encoded path lost on wall every
interleaved trial (7.2-7.9 s vs 3.6-5.9 s warm) because its ~6 fixed
encode/decode jobs cannot amortize over a 3-round peel.

Rounds are data-bounded (the peel depth, a.k.a. degeneracy diameter),
not fixed: ``max_rounds`` is a runaway guard, and hitting it raises
rather than returning a non-core.

At 100 TB: the one pair-sized shuffle is the initial distinct; every
round after that shuffles only frontier-incident decrements (<= frontier
degree sum) and re-materializes <=|V| degree rows. Skewed hubs cost one
counted key, not a buffered group; gate overflows degrade to bounded
anti-join rewrites, never an unbounded broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.session import checkpoint_observed

# cumulative-removed-set broadcast gate: past this many peeled ids the
# pair list is compacted (anti-join rewrite) and the set reset, so no
# broadcast ever exceeds ~tens of MB of ids
_BCAST_MAX_PEELED = 2_000_000


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "source_id",
    dst_col: str = "target_id",
    max_rounds: int = 100,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Nodes of the k-core of the undirected simple graph induced by
    ``edges`` (direction, multi-edges, and self-loops collapsed), as
    ``(id, degree)`` with ``degree`` counted WITHIN the core. Empty
    result when no k-core exists. ``pairs`` optionally supplies the
    canonical ``u < v`` distinct pair list as a MATERIALIZED
    (persisted/checkpointed) frame — callers running several undirected
    analytics share one pair list instead of paying the |E|-row
    distinct per operator; it must equal exactly what this function
    derives from ``edges`` itself."""
    if k < 1:
        raise ValueError(f"k_core needs k >= 1, got {k}")
    if pairs is None:
        s, d = F.col(src_col), F.col(dst_col)
        # canonical u<v pair list: ONE distinct over |E| rows,
        # materialized once — never rewritten unless the gate overflows
        pairs = (
            edges.filter(s != d)
            .select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    def materialize(d: DataFrame) -> tuple[DataFrame, int]:
        # the degree vector, checkpointed; the next frontier's size is
        # observed by the same job
        d, m = checkpoint_observed(d, n_low=F.count_if(F.col("degree") < k))
        return d, m["n_low"]

    # full degree aggregation, exactly once: map-side partial count
    # bounds the shuffle at <=|V| rows regardless of |E|
    deg, n_low = materialize(
        pairs.select(F.col("u").alias("id"))
        .union(pairs.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    removed: DataFrame | None = None  # cumulative peeled ids (broadcast side)
    n_removed = 0
    for _ in range(max_rounds):
        if n_low == 0:
            return deg
        # frontier: a filter over the checkpointed degree vector, which
        # the decrement joins below re-read (<=|V| rows each)
        low = deg.filter(F.col("degree") < k).select("id")
        # decrements: for every ORIGINAL edge (u, v) with exactly one
        # endpoint in the frontier and the other endpoint still live,
        # the live endpoint loses one degree. Edges whose far endpoint
        # was peeled in an earlier round already decremented then (it
        # was live at that time... no: the far endpoint was the SURVIVOR
        # then) — concretely: an edge dies in the round its FIRST
        # endpoint is peeled, and decrements its other endpoint iff that
        # endpoint is not in the same frontier; the anti-joins against
        # removed ∪ frontier encode exactly that.
        gone = low if removed is None else removed.union(low.select("id"))
        lu = low.withColumnRenamed("id", "u")
        lv = low.withColumnRenamed("id", "v")
        touched = (
            pairs.join(F.broadcast(lu), "u", "semi")
            .select(F.col("v").alias("id"))
            .union(
                pairs.join(F.broadcast(lv), "v", "semi")
                .select(F.col("u").alias("id"))
            )
            .join(F.broadcast(gone), "id", "anti")
        )
        decr = touched.groupBy("id").agg(F.count(F.lit(1)).alias("_dec"))
        n_removed += n_low
        deg, n_low = materialize(
            # survivors: ids are unique in deg, so this is the anti-join
            # against the frontier
            deg.filter(F.col("degree") >= k)
            .join(F.broadcast(decr), "id", "left")
            .select(
                "id",
                (F.col("degree") - F.coalesce(F.col("_dec"), F.lit(0))).alias(
                    "degree"
                ),
            )
        )
        # NOT checkpointed: `gone` is a union of filters over the
        # (already checkpointed) per-round degree vectors, so
        # re-evaluating it inside next round's broadcast builds is a
        # cheap cache-read union, while a checkpoint here cost one
        # extra job per round; plan depth grows by one union per round,
        # bounded by the peel depth and reset at every compaction
        removed = gone
        if n_removed > _BCAST_MAX_PEELED:
            # compact: one bounded anti-join rewrite of the pair list
            # (the r5 round body), then the removed set resets — no
            # broadcast ever carries more than the gate
            pairs = (
                pairs.join(removed.withColumnRenamed("id", "u"), "u", "left_anti")
                .join(removed.withColumnRenamed("id", "v"), "v", "left_anti")
                .localCheckpoint(eager=True)
            )
            removed, n_removed = None, 0
    raise RuntimeError(f"k_core did not converge within {max_rounds} rounds")


def k_core_py(edge_list: list[tuple[str, str]], k: int) -> dict[str, int]:
    """Pure-Python replica of ``k_core`` — the independent oracle
    (iterative peeling to the same fixpoint; degrees are exact
    integers, so the results are identical)."""
    adj: dict[str, set[str]] = {}
    for u, v in edge_list:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    while True:
        low = [n for n, ns in adj.items() if len(ns) < k]
        if not low:
            break
        for n in low:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(ns) for n, ns in adj.items()}
