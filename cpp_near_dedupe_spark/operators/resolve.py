"""Dedup resolution: pick each cluster's representative, emit keep/drop sets.

Replaces the reference's resolver stage — a 230-line Arrow file splicer
(`/root/reference/CPPDeduper/DupeResolverThread.h:138-431`) — with one
aggregation + one anti-join (SURVEY.md §2 O2): the entire "copy input minus
dupe rows" machinery is ``docs.join(duplicates, id, "left_anti")``.

Representative choice: the reference keeps the *first-seen* doc of a
cluster (arrival order = (file index, row number),
`ComparerThread.h:379-404`). Our order key is configurable
(``cfg.order_col``, e.g. ``warc_ts`` for web pages; defaults to the id) —
min (order_col, id) within each cluster is kept.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupeConfig


def resolve_clusters(
    docs: DataFrame, clusters: DataFrame, cfg: DedupeConfig
) -> DataFrame:
    """docs × (id, cluster_id) → (id, cluster_id, is_kept) for ALL docs.

    Docs absent from ``clusters`` (no duplicate edge) are singleton
    clusters of themselves and are kept.

    Physical shape: ONE left join of ``docs(id[, order])`` with
    ``clusters`` reads the clusters once (one shuffle of them on id, which
    every branch below reuses). Only the minimum of each cluster is needed, so the
    representative is a hash aggregation ``groupBy(cluster_id).min(struct
    (order, id))`` over the clustered rows, joined back on cluster_id —
    partial-aggregated map-side, no sort anywhere. (A row_number window
    over cluster_id would sort every document at the resolve stage; at
    10^11 docs that global sort IS the job.) Rows the join leaves without
    a cluster are singletons: kept by definition, they skip the
    aggregation and its join-back.
    """
    id_col = cfg.id_col
    order_col = cfg.order_col or id_col
    cols = [id_col] if order_col == id_col else [id_col, order_col]
    # Spark reuses an exchange only between identical subtrees. The
    # explicit repartition gives the branches an exchange to share
    # whichever side a join broadcasts. The clustered branch's not-null
    # filter turns its copy of the join into an inner join and pushes that
    # filter into the clusters side, so it is applied up front: every
    # branch then shuffles the same subtree, computed once.
    member = clusters.filter(F.col("cluster_id").isNotNull()).repartition("id")
    joined = docs.select(*cols).join(
        member.withColumnRenamed("id", id_col), id_col, "left"
    )
    clustered = joined.filter(F.col("cluster_id").isNotNull())
    ord_expr = (
        F.col(id_col)
        if order_col == id_col
        else F.struct(F.col(order_col), F.col(id_col))
    )
    reps = clustered.groupBy("cluster_id").agg(F.min(ord_expr).alias("_rep"))
    rep_id = (
        F.col("_rep") if order_col == id_col else F.col(f"_rep.{id_col}")
    )
    resolved_members = clustered.join(reps, "cluster_id").select(
        F.col(id_col),
        "cluster_id",
        (F.col(id_col) == rep_id).alias("is_kept"),
    )
    singletons = joined.filter(F.col("cluster_id").isNull()).select(
        F.col(id_col),
        F.col(id_col).alias("cluster_id"),
        F.lit(True).alias("is_kept"),
    )
    return resolved_members.unionByName(singletons)


def duplicates(resolved: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """The drop set: every doc that is not its cluster's representative."""
    return resolved.filter(~F.col("is_kept")).select(cfg.id_col, "cluster_id")


def dedupe_output(docs: DataFrame, resolved: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Input minus duplicates, full passthrough schema — the reference's
    entire output stage as one anti-join."""
    dupes = duplicates(resolved, cfg).select(cfg.id_col)
    return docs.join(dupes, cfg.id_col, "left_anti")


def dedupe_report(resolved: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Cluster-size histogram over a resolved (id, cluster_id, is_kept)
    relation: (cluster_size, n_clusters, n_docs, n_removed), ordered by
    size. The queryable face of the reference's end-of-run stats dump
    (`/root/reference/CPPDeduper/main.cpp` prints totals to stderr;
    `_metrics` counters carry the per-stage numbers here — this operator
    makes the cluster-shape distribution itself a first-class result).
    Two hash aggregations, no window, no collect; at 10^11 docs both
    shuffles are on cluster_id / cluster_size (bounded key space)."""
    sizes = resolved.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_removed"),
        )
    )
