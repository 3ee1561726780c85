"""Transitive duplicate clustering: connected components over dupe edges.

The reference's greedy keep-first pass (CPPDeduper
`ComparerThread.h:271-414`) is inherently sequential — each doc is compared
against the retained-unique set built so far. The order-independent,
distributed equivalent (SURVEY.md §2 C1) is connected components over the
verified duplicate edges, labelled with each component's minimum node id
(which doubles as the cluster id).

One rule, decided by the edge count of the canonicalized input:

* **at or below** ``_LOCAL_EDGE_CAP`` the whole graph is solved in ONE
  ``coalesce(1).mapInPandas`` task by a whole-array numpy union-find
  (min-root hooking + pointer jumping) — the in-task vectorized style of
  "Accelerating Python UDFs in Vectorized Query Execution" (CIDR 2022).
  The dedupe graphs this engine builds sit far under the cap, so CC costs
  the checkpoint + count job and the finishing task, whatever the depth;
* **above** the cap, the alternating large-star / small-star rounds of
  Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC
  2014), run as groupBy + join-back DataFrame plans until the edge count
  drops to the cap (then the residual forest finishes in one task) or the
  edge set reaches a fixpoint (a star forest rooted at each minimum):

  - large-star: for each node u, connect every strictly-larger neighbor to
    the minimum of N(u) ∪ {u};
  - small-star: for each node u (edges directed larger→smaller), connect
    all smaller neighbors and u itself to their minimum.

  Both steps preserve connectivity and the node set, so a residual forest
  has the same components as the input.

Every edge set is ``localCheckpoint``-ed: iterative self-joins otherwise
grow an exponential lineage that Catalyst re-analyzes every round. On a
cluster, checkpointing to the Iceberg/parquet stage directory every few
rounds also bounds recomputation on executor loss.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# max edges the one finishing task holds: u/v plus the union-find arrays
# are ~100 MB of numpy at 1M edges. Greedy resolution uses the same bound
# for its per-component tasks.
_LOCAL_EDGE_CAP = 1_000_000


def _canonicalize(edges: DataFrame, distinct_pairs: bool = False) -> DataFrame:
    """Undirected (a, b) → directed large→small (u, v), self-loops dropped.
    ``distinct_pairs=True`` skips the dedup shuffle when the caller
    guarantees the input pairs are already distinct as sets (the pipeline's
    pair generator ends in dropDuplicates, so its edges qualify)."""
    out = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).filter(F.col("u") != F.col("v"))
    return out if distinct_pairs else out.distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    # No distinct here: duplicate edges don't change any per-node min, and
    # the round's small_star ends in the canonicalizing distinct — one
    # dedup shuffle per round instead of two. (Kiveris et al. dedup both
    # steps only to bound intermediate growth; a star step inflates the
    # edge list ≤2× transiently, which the next shuffle absorbs.) The
    # neighborhood minimum is a map-side-combined groupBy joined back on
    # the node: the join on a hub key is AQE-skew-splittable, where a
    # per-node window would put a mega-hub's whole adjacency in one task.
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least("mv", "u").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # edges are canonical u > v, so min(N_small(u) ∪ {u}) = min(v)
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    with_min = edges.join(mins, "u")
    moved = with_min.select(F.col("v").alias("u"), F.col("m").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    selfe = mins.select("u", F.col("m").alias("v"))
    return moved.unionByName(selfe).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: ANSI mode (Spark 4 default) overflows on summed hashes
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _min_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Edge arrays → (node ids, minimum id of each node's component). Ids
    may be integers or strings (object arrays): np.unique sorts both the
    way Spark's min() orders them."""
    ids, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: u.size], idx[u.size :]
    # dense indices follow id order, so the smallest root index is the
    # smallest id; every entry of ``root`` is a root between hook passes
    root = np.arange(ids.size)
    ra, rb = a, b
    while not np.array_equal(ra, rb):
        # hook each edge's larger root under its smaller one (a root hooked
        # by several edges keeps the smallest), then pointer-jump until
        # every node points straight at its root
        np.minimum.at(root, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(root[root], root):
            root = root[root]
        ra, rb = root[a], root[b]
    return ids, ids[root]


def _local_components(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body over ONE partition: the whole (u, v) edge set →
    (id, cluster_id). An empty edge set arrives as no batches at all."""
    parts = list(batches)
    if parts:
        e = pd.concat(parts)
        ids, labels = _min_labels(e["u"].to_numpy(), e["v"].to_numpy())
        yield pd.DataFrame({"id": ids, "cluster_id": labels})


def _forest_components(forest: DataFrame) -> DataFrame:
    """A converged star forest → (id, cluster_id): each non-root u points
    at its root; roots point at themselves implicitly. min() guards the
    (impossible by construction, cheap to enforce) case of duplicate
    memberships."""
    members = forest.groupBy("u").agg(F.min("v").alias("cluster_id"))
    roots = forest.select(F.col("v").alias("u")).distinct().join(
        members.select("u"), "u", "left_anti"
    ).select("u", F.col("u").alias("cluster_id"))
    return members.unionByName(roots).select(
        F.col("u").alias("id"), "cluster_id"
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 20, distinct_pairs: bool = False
) -> DataFrame:
    """Undirected edges (a, b) → (id, cluster_id) for every node appearing
    in an edge. cluster_id = minimum node id of the component. Nodes not in
    any edge are singletons and are absent (callers treat missing as
    cluster_id = own id). ``distinct_pairs``: see ``_canonicalize``.

    The canonicalized input is checkpointed and counted in one job. At or
    below ``_LOCAL_EDGE_CAP`` edges the graph finishes in one task.
    Above it, each star round (large + small) is one lazy localCheckpoint
    materialized by its checksum job — each star step references its input
    3-4 times, so an untruncated logical plan grows exponentially and OOMs
    the driver during analysis; plan truncation here is correctness, not
    tuning. Rounds stop when the count drops to the cap (local finish) or
    two successive checksums are equal (each star round strictly decreases
    the Kiveris potential, so the edge set is a fixpoint). More than
    ``2 * max_iterations`` star rounds raise.
    """
    cur = _canonicalize(edges, distinct_pairs).localCheckpoint(eager=False)
    seen = _checksum(cur)
    for _ in range(2 * max_iterations):
        if seen[0] <= _LOCAL_EDGE_CAP:
            break
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        prev, seen = seen, _checksum(cur)
        if seen == prev:
            return _forest_components(cur)
    if seen[0] > _LOCAL_EDGE_CAP:
        raise RuntimeError(
            "connected_components did not converge in "
            f"{2 * max_iterations} star rounds (max_iterations={max_iterations})"
        )
    t = cur.schema["u"].dataType.simpleString()  # ids may be long or string
    return cur.coalesce(1).mapInPandas(_local_components, f"id {t}, cluster_id {t}")
