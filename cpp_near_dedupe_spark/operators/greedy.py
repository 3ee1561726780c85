"""Strict arrival-order greedy resolution — the reference's exact keep/drop
semantics.

The reference processes documents in arrival order and drops a doc iff it
scores ≥ threshold against an already-RETAINED earlier doc
(`/root/reference/CPPDeduper/ComparerThread.h:271-414`); a doc whose only
matches were themselves dropped is KEPT. This differs from the pipeline's
default connected-components resolve on chains: for edges A~B, B~C with no
A~C edge, CC keeps only A (one cluster), greedy keeps A and C (B dropped
against A; C's only match B is not retained).

The greedy retained set is the lexicographically-first maximal independent
set of the duplicate graph — inherently sequential, but a doc's decision
depends only on its earlier neighbours' decisions, so one ascending pass
over every edge equals any split of the graph into separately-resolved
parts. One rule, decided by the edge count, as in
``clustering.connected_components``:

* **at or below** clustering's ``_LOCAL_EDGE_CAP`` the whole graph is
  decided in ONE ``coalesce(1).mapInPandas`` task running the reference's
  literal sequential loop (``greedy_decide_py``) — the in-task style of
  "Accelerating Python UDFs in Vectorized Query Execution" (CIDR 2022).
  A 500-link decision chain is one in-task loop, whatever its depth; the
  dedupe graphs this engine sees sit orders of magnitude under the cap.

* **above** the cap, the frontier engine: parallel rounds — each round
  decides every doc whose earlier neighbors are all decided. Round count
  = length of the longest decision chain (`LAST_FRONTIER_ROUNDS` records
  it); per round everything is hash joins, lazily localCheckpoint-ed,
  one checkpointed count per round. It is also the independent
  implementation the tests cross-verify against (plus the recursive-CTE
  DuckDB oracle of ``lsh_sql_greedy_kept`` in ``__spark_entry__``).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupeConfig

#: rounds used by the most recent frontier-engine invocation (observability
#: for tests/bench — the "real families are stars" claim is measured, not
#: assumed)
LAST_FRONTIER_ROUNDS = 0


def greedy_resolve(
    docs: DataFrame,
    edges: DataFrame,
    cfg: DedupeConfig,
    max_rounds: int = 60,
) -> DataFrame:
    """docs × duplicate edges (a, b) → (id, is_kept) for ALL docs, under
    the reference's arrival-order semantics (arrival order = ascending
    ``cfg.id_col``, the reference's (file_index, row_number) packed id).

    ``edges`` is undirected input; it is canonicalized to (earlier, later)
    here, self-loops dropped, then checkpointed and counted in one Spark
    job — the only job this call starts when the count is at or below
    clustering's ``_LOCAL_EDGE_CAP`` (read at call time). Then one task
    decides every doc; above the cap the frontier engine takes the whole
    graph, bounded by ``max_rounds``: a decision chain deeper than that
    raises "did not converge", also when it lies in a small component of
    the over-cap graph. Docs without any edge are kept by definition.

    Edges are not deduplicated: a repeated edge cannot change any
    keep/drop decision (the drop rule is an existence test), and the
    pipeline's pair generators end in dropDuplicates anyway.
    """
    from . import clustering

    id_col = cfg.id_col
    e = (
        edges.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint(eager=False)
    )
    # an RDD count is one job; DataFrame.count() under AQE submits its
    # shuffle map stage as a job of its own
    if e._jdf.queryExecution().toRdd().count() <= clustering._LOCAL_EDGE_CAP:
        t = e.schema["a"].dataType.simpleString()  # ids may be long or string
        dropped = e.coalesce(1).mapInPandas(_local_dropped, f"id {t}")
    else:
        dropped = _frontier_dropped(e, max_rounds)
    # one left join reads the decisions once (the frontier returns None
    # only for an empty edge set, which never gets here)
    flagged = dropped.select(F.col("id").alias(id_col), F.lit(True).alias("dropped"))
    return docs.select(id_col).join(flagged, id_col, "left").select(
        id_col, F.col("dropped").isNull().alias("is_kept")
    )


def greedy_decide_py(
    pairs: Iterable[tuple[int, int]], ids: Iterable[int]
) -> dict[int, bool]:
    """The reference's literal sequential loop (`ComparerThread.h:271-414`):
    process ids ascending; drop iff an EARLIER RETAINED neighbor exists.
    Run by the one-task engine over the whole edge set, and the tests'
    oracle."""
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        lo, hi = (a, b) if a < b else (b, a)
        if lo != hi:
            adj.setdefault(hi, []).append(lo)
    kept: set[int] = set()
    decision: dict[int, bool] = {}
    for i in sorted(set(ids)):
        is_kept = not any(x in kept for x in adj.get(i, ()))
        if is_kept:
            kept.add(i)
        decision[i] = is_kept
    return decision


def _local_dropped(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body over ONE partition: the whole (a, b) edge set →
    the dropped ids. An empty edge set arrives as no batches at all."""
    parts = list(batches)
    if parts:
        e = pd.concat(parts)
        a, b = e["a"].tolist(), e["b"].tolist()
        decision = greedy_decide_py(zip(a, b), a + b)
        yield pd.DataFrame({"id": [i for i, k in decision.items() if not k]})


def _frontier_dropped(e: DataFrame, max_rounds: int) -> DataFrame | None:
    """Dropped ids via parallel frontier rounds over canonicalized edges.

    Per round, everything is hash joins on ids (no windows, no sorts):

    * ``frontier`` = undecided docs with no undecided earlier neighbor
      (anti-join against the undecided edge heads);
    * frontier docs with an edge from a retained doc → dropped (semi-join);
    * the rest of the frontier → retained;
    * edges out of dropped docs are discarded (they can never drop anyone).

    Every round is lazily localCheckpoint-ed and materialized by the count
    of the remaining undecided set — bounded lineage. Raises only if undecided docs REMAIN after
    ``max_rounds`` (converging on exactly the last round is success).
    """
    global LAST_FRONTIER_ROUNDS
    undecided = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    retained = None  # ids decided kept, accumulated
    dropped = None  # ids decided dropped

    remaining = undecided.count()
    rounds = 0
    while remaining > 0:
        if rounds >= max_rounds:
            raise RuntimeError(
                f"greedy frontier did not converge in {max_rounds} rounds "
                f"({remaining} docs undecided — decision-chain depth exceeds "
                "the round budget; raise max_rounds)"
            )
        rounds += 1
        # frontier: undecided docs none of whose EARLIER neighbors are
        # still undecided (edge heads `a` still in play)
        live_heads = e.join(
            undecided.withColumnRenamed("id", "a"), "a", "left_semi"
        )
        frontier = undecided.join(
            live_heads.select(F.col("b").alias("id")), "id", "left_anti"
        )
        # dropped iff some retained earlier neighbor exists
        if retained is not None:
            killer_edges = e.join(
                retained.withColumnRenamed("id", "a"), "a", "left_semi"
            )
            new_dropped = frontier.join(
                killer_edges.select(F.col("b").alias("id")), "id", "left_semi"
            )
            new_retained = frontier.join(new_dropped, "id", "left_anti")
        else:
            new_dropped = None
            new_retained = frontier

        retained = (
            new_retained
            if retained is None
            else retained.unionByName(new_retained)
        ).localCheckpoint(eager=False)
        if new_dropped is not None:
            dropped = (
                new_dropped if dropped is None else dropped.unionByName(new_dropped)
            ).localCheckpoint(eager=False)
            # edges whose head was dropped can never drop anyone: discard
            e = e.join(
                dropped.withColumnRenamed("id", "a"), "a", "left_anti"
            ).localCheckpoint(eager=False)
        undecided = undecided.join(frontier, "id", "left_anti").localCheckpoint(
            eager=False
        )
        new_remaining = undecided.count()
        if new_remaining == remaining:
            raise RuntimeError(
                "greedy frontier made no progress (cyclic ordering impossible "
                "— this indicates corrupt edge input)"
            )
        remaining = new_remaining
    LAST_FRONTIER_ROUNDS = rounds
    return dropped
