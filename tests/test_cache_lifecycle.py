"""Cache-lifecycle contract (cpp_near_dedupe_spark/cache.py): every
operator persist is registered with the session registry, the caller
releases between queries, and nothing leaks across a long-lived session.

Also pins the no-persist design of the hot-bucket machinery: the tiny
hot-stats relation is broadcast once and REUSED (ReuseExchange), not
cached.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.cache import release_all, tracked_count
from cpp_near_dedupe_spark.config import DedupeConfig


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_release_all_drains_query_caches(spark):
    """The cached RDDs a query ADDS are gone after release_all. Compared
    by rdd id, not by global count — the shared test session carries
    localCheckpoint blocks from other tests that the JVM ContextCleaner
    reclaims at its own pace."""
    from cpp_near_dedupe_spark.operators.simhash import simhash_candidate_pairs

    release_all()  # clean slate (other tests may have tracked caches)
    before = _persistent_rdd_ids(spark)
    docs = spark.createDataFrame(
        [(i, f"some text number {i % 7} with shared tokens") for i in range(200)],
        "doc_id long, text string",
    )
    simhash_candidate_pairs(docs, 3).count()
    assert tracked_count() >= 1  # the fingerprint persist was registered
    added = _persistent_rdd_ids(spark) - before
    assert added
    release_all()
    assert tracked_count() == 0
    assert not (added & _persistent_rdd_ids(spark))


def test_pipeline_caches_are_tracked_and_releasable(spark):
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    release_all()
    before = _persistent_rdd_ids(spark)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(120),
                "text": [
                    f"the quick brown fox {i % 11} jumps over the lazy dog {i % 7}"
                    for i in range(120)
                ],
            }
        )
    )
    cfg = DedupeConfig(id_col="doc_id", text_col="text")
    res = run_pipeline(spark, docs, cfg)
    res.resolved.count()
    mid = _persistent_rdd_ids(spark)
    assert mid - before
    n = release_all()
    assert n >= 4  # signatures, sig_reps, bands, chain_star's hot keys
    assert tracked_count() == 0
    # NOTE: localCheckpoint blocks (CC plan truncation) also appear in
    # getPersistentRDDs; those are lineage-truncation storage the JVM
    # ContextCleaner reclaims once unreferenced — unpersisting them by
    # hand would LOSE data (truncated lineage can't recompute). The
    # registry-owned caches must be gone; at least n cached RDDs vanish:
    after = _persistent_rdd_ids(spark)
    assert len(mid - after) >= n


def test_entry_queries_release_previous_caches(spark, tmp_path):
    """The driver-facing query wrappers release the previous query's
    caches — a loop over the full query dict must not accumulate."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    release_all()
    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    qs["simhash_dupe_pairs"](spark, sf).count()
    first = tracked_count()
    assert first >= 1
    # next query's wrapper must drain the previous query's caches
    qs["doc_stats"](spark, sf).count()
    assert tracked_count() <= first


def test_hot_stats_cached_once_across_branches(spark):
    """capped_star_pairs persists the tiny hot-stats relation through the
    registry so the full-table aggregation under it runs ONCE even though
    per-branch column pruning prevents exchange reuse: every branch reads
    an InMemoryTableScan, and the cache is registry-released."""
    from cpp_near_dedupe_spark.operators.pairs import capped_star_pairs

    release_all()
    rows = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("band_key")
    )
    pairs = capped_star_pairs(rows, ["band_key"], "doc_id", 64)
    assert tracked_count() == 1
    plan = pairs._sc._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryTableScan" in plan
    pairs.count()
    release_all()
    assert tracked_count() == 0


@pytest.mark.parametrize("topology", ["chain_star", "all_pairs"])
def test_hot_buckets_note_reads_the_routers_hot_keys(spark, topology):
    """The checkpointed ``pairs`` stage's ``hot_buckets`` note counts the
    hot keys the pair router actually routed apart: once the pairs ran,
    the note's plan is the router's cached relation, not a second
    aggregation over the bands table."""
    from cpp_near_dedupe_spark.operators.pairs import candidate_pairs, hot_keys

    release_all()
    cfg = DedupeConfig(id_col="doc_id", hot_band_cap=64, pair_topology=topology)
    bands = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("band_key")
    )
    candidate_pairs(bands, cfg).count()
    assert tracked_count() == 1
    note = hot_keys(bands, cfg).groupBy().count()
    plan = note._jdf.queryExecution().optimizedPlan().toString().splitlines()
    nodes = [line.lstrip(" +-:").split(" ")[0] for line in plan]
    assert "InMemoryRelation" in nodes, plan
    # above the cache only the count's own aggregate and projection
    assert set(nodes[: nodes.index("InMemoryRelation")]) <= {"Aggregate", "Project"}, plan
    assert note.first()[0] == 3  # every 667-row bucket is over the cap
    release_all()
