"""Spark operator tests: each pipeline stage vs its pure-Python oracle."""

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.functions import (
    band_keys_oracle,
    jaccard_oracle,
    sketch_oracle,
)
from cpp_near_dedupe_spark.operators.sketch_op import sketch_documents
from cpp_near_dedupe_spark.operators.blocking import explode_bands
from cpp_near_dedupe_spark.operators.pairs import candidate_pairs
from cpp_near_dedupe_spark.operators.scoring import score_pairs, duplicate_edges
from cpp_near_dedupe_spark.operators.clustering import connected_components
from cpp_near_dedupe_spark.operators.resolve import resolve_clusters, dedupe_output

CFG = DedupeConfig(id_col="doc_id", text_col="text")


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        schema="doc_id long, text string",
    )


def _sig_to_uint(sig):
    return [int(v) for v in np.asarray(sig, dtype=np.int64).view(np.uint64)]


def test_sketch_operator_matches_oracle(spark):
    texts = [
        None, "", "one two three four",
        "the quick brown fox jumps over the lazy dog again",
        "word " * 300,
        " ".join(f"w{i % 37}" for i in range(500)),
    ]
    out = sketch_documents(_docs(spark, texts), CFG).toPandas().sort_values("doc_id")
    for _, row in out.iterrows():
        exp = sketch_oracle(texts[int(row.doc_id)])
        assert _sig_to_uint(row.signature) == exp
        assert row.sig_len == len(exp)


def test_blocking_operator_matches_oracle(spark):
    """The band-key CONTRACT is collision structure: a (doc, band) pair
    shares a key with another iff their 4-value sketch slices are equal
    (SURVEY §2 B2a — key values themselves are an implementation detail;
    the JVM path uses xxhash64, the numpy oracle its own mix). Verify the
    partition of (doc, band) rows by key is identical between the Spark
    operator and the driver-side oracle, plus band coverage per doc."""
    # i*j % 53 gives overlapping vocabularies -> some equal slices across docs
    texts = [" ".join(f"w{(i * j) % 53}" for j in range(300)) for i in range(8)]
    texts.append(texts[0])  # identical doc -> all 64 bands collide
    texts.append("too short")
    docs = _docs(spark, texts)
    sigs = sketch_documents(docs, CFG)
    got = explode_bands(sigs, CFG).toPandas()

    from collections import defaultdict

    oracle_groups = defaultdict(set)
    jvm_groups = defaultdict(set)
    for i, t in enumerate(texts):
        exp = band_keys_oracle(sketch_oracle(t))
        rows = got[got.doc_id == i].sort_values("band_id")
        # coverage: the same set of complete bands participates
        assert [int(b) for b in rows.band_id] == [b for b, _ in exp], i
        for b, k in exp:
            oracle_groups[(b, k)].add((i, b))
        for b, k in zip(rows.band_id, rows.band_key):
            jvm_groups[(int(b), int(k))].add((i, int(b)))
    assert sorted(sorted(g) for g in oracle_groups.values()) == sorted(
        sorted(g) for g in jvm_groups.values()
    )
    # identical docs collide everywhere
    assert (got[got.doc_id == 0].band_key.values
            == got[got.doc_id == 8].band_key.values).all()
    # doc with empty sketch yields no band rows
    assert (got.doc_id == len(texts) - 1).sum() == 0


def test_candidate_pairs_exact_small_buckets(spark):
    bands = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "band_id": [0, 0, 0, 1, 1, 2],
                "band_key": [10, 10, 10, 20, 20, 30],
            }
        ),
        schema="doc_id long, band_id int, band_key long",
    )
    got = {
        (r.a, r.b)
        for r in candidate_pairs(bands, CFG).collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_candidate_pairs_chain_star_topology(spark):
    """chain_star: per bucket, (predecessor, doc) + (bucket_min, doc) —
    2h-3 pairs for an h-doc bucket, connectivity guaranteed."""
    cfg = DedupeConfig(id_col="doc_id", pair_topology="chain_star")
    bands = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 8, 9],
                "band_id": [0] * 5 + [1] * 2,
                "band_key": [10] * 5 + [20] * 2,
            }
        ),
        schema="doc_id long, band_id int, band_key long",
    )
    got = {(r.a, r.b) for r in candidate_pairs(bands, cfg).collect()}
    chain = {(1, 2), (2, 3), (3, 4), (4, 5)}
    star = {(1, 3), (1, 4), (1, 5)}
    assert got == chain | star | {(8, 9)}
    # every bucket member is reachable from the bucket min
    touched = {x for p in got for x in p}
    assert touched == {1, 2, 3, 4, 5, 8, 9}


def test_chain_star_plan_build_starts_no_job(spark):
    """Building the chain_star pair plan is pure planning: the hot-key
    routing rides the plan, no driver action picks between plans."""
    from cpp_near_dedupe_spark.cache import release_all

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bands = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        (F.col("id") % 7).alias("band_key"),
    )
    cfg = DedupeConfig(id_col="doc_id", pair_topology="chain_star")
    try:
        bus.waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        pairs = candidate_pairs(bands, cfg)
        bus.waitUntilEmpty()
        assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
        assert pairs.count() == sum(2 * len(range(k, 200, 7)) - 3 for k in range(7))
    finally:
        release_all()


def test_candidate_pairs_hot_bucket_star_routing(spark):
    """Over-cap buckets: all pairs among the hash-selected head
    (portable_salt(id, ceil(size/cap)) == 0) plus (bucket-min, doc) star
    edges for every other doc — computed here independently with the
    python twin of the head-selection hash."""
    from cpp_near_dedupe_spark.operators.pairs import portable_salt_py

    cfg = DedupeConfig(id_col="doc_id", hot_band_cap=4, pair_topology="all_pairs")
    n = 10
    bands = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n), "band_id": [0] * n, "band_key": [7] * n}),
        schema="doc_id long, band_id int, band_key long",
    )
    got = {(r.a, r.b) for r in candidate_pairs(bands, cfg).collect()}
    n_salts = (n + 3) // 4
    head = [i for i in range(n) if portable_salt_py(i, n_salts) == 0]
    assert 0 < len(head) < n  # the head is a proper hash-selected subset
    head_pairs = {(a, b) for a in head for b in head if a < b}
    star_pairs = {(0, j) for j in range(1, n)}
    assert got == head_pairs | star_pairs
    # bucket stays connected: edges touch every doc
    touched = {x for p in got for x in p}
    assert touched == set(range(n))


def test_scoring_matches_oracle(spark):
    texts = [
        " ".join(f"w{j % 31}" for j in range(200)),
        " ".join(f"w{j % 31}" for j in range(200)),          # exact dupe of 0
        " ".join(f"x{j % 29}" for j in range(200)),          # disjoint vocab
        "",                                                   # empty sketch
    ]
    docs = _docs(spark, texts)
    sigs = sketch_documents(docs, CFG)
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [0, 0, 0], "b": [1, 2, 3]}), schema="a long, b long"
    )
    got = {(r.a, r.b): r.jaccard for r in score_pairs(pairs, sigs, CFG).collect()}
    o = [sketch_oracle(t) for t in texts]
    assert got[(0, 1)] == pytest.approx(1.0)
    assert got[(0, 2)] == pytest.approx(jaccard_oracle(o[0], o[2]))
    assert got[(0, 3)] == pytest.approx(0.0)  # empty never matches
    edges = duplicate_edges(
        score_pairs(pairs, sigs, CFG), CFG
    ).collect()
    assert {(r.a, r.b) for r in edges} == {(0, 1)}


def _cc_oracle(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


_CC_CASES = ["chain", "star", "random", "two_cliques", "mega_hub", "empty"]


@pytest.mark.parametrize(
    "case,cap",
    [pytest.param(c, None, id=c) for c in _CC_CASES]
    + [pytest.param(c, 0, id=f"{c}-star_rounds") for c in _CC_CASES]
    + [pytest.param("mega_hub", 400, id="mega_hub-star_then_local")],
)
def test_connected_components_vs_union_find(spark, monkeypatch, case, cap):
    """Every CC path against the pure-Python union-find: the one-task
    numpy finish (every test graph is under the default cap); with the
    cap forced to 0, the groupBy + join star rounds to a fixpoint; and
    with a cap between the input's and the forest's edge counts, star
    rounds until the count drops to the cap, then the one-task finish."""
    from cpp_near_dedupe_spark.operators import clustering

    counts = []

    def recorded_checksum(e, checksum=clustering._checksum):
        counts.append(checksum(e))
        return counts[-1]

    if cap is not None:
        monkeypatch.setattr(clustering, "_LOCAL_EDGE_CAP", cap)
        monkeypatch.setattr(clustering, "_checksum", recorded_checksum)
    rng = np.random.default_rng(17)
    if case == "chain":
        edges = [(i, i + 1) for i in range(30)]
        n = 31
    elif case == "star":
        edges = [(0, i) for i in range(1, 25)]
        n = 25
    elif case == "two_cliques":
        edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
        edges += [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
        n = 14
    elif case == "mega_hub":
        # random edges with duplicates and self-loops, plus a 149-spoke
        # hub — the shape the star pair topology manufactures
        r13 = random.Random(13)
        edges = [(r13.randint(0, 200), r13.randint(0, 200)) for _ in range(600)]
        edges += [(0, j) for j in range(1, 150)]
        n = 201
    elif case == "empty":
        edges, n = [], 0
    else:
        n = 200
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(150, 2))
            if a != b
        ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]), "a long, b long")
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    exp = _cc_oracle(n, edges)
    nodes_in_edges = {x for a, b in edges if a != b for x in (a, b)}
    for node in nodes_in_edges:
        assert got[node] == exp[node], (case, node)
    assert set(got) == nodes_in_edges
    if cap:
        # the input is over the cap and the last star round is under it
        assert counts[0][0] > cap >= counts[-1][0], counts


@pytest.mark.parametrize("star_rounds", [False, True])
def test_connected_components_string_ids(spark, monkeypatch, star_rounds):
    """Ids may be strings (the web pipeline keys docs by url): both paths
    label each node with its component's lexicographic minimum and keep
    the string type, and an empty string-keyed edge set stays empty."""
    from cpp_near_dedupe_spark.operators import clustering

    if star_rounds:
        monkeypatch.setattr(clustering, "_LOCAL_EDGE_CAP", 0)
    edges = [("b/2", "a/1"), ("c", "b/2"), ("é", "z"), ("z", "y")]
    df = spark.createDataFrame(edges, "a string, b string")
    out = connected_components(df)
    assert out.schema["id"].dataType.simpleString() == "string"
    got = {r.id: r.cluster_id for r in out.collect()}
    assert got == {"a/1": "a/1", "b/2": "a/1", "c": "a/1", "y": "y", "z": "y", "é": "y"}
    assert connected_components(df.limit(0)).count() == 0


def test_connected_components_round_budget(spark, monkeypatch):
    """Pins the star-round budget and the converged-forest finalize: with
    the local-finish cap at 0 every graph stays on the star rounds, whose
    budget is 2 * max_iterations rounds, so a graph needing more rounds
    than a tiny budget raises with the round count in the message, while
    the same graph converges under the default budget."""
    from cpp_near_dedupe_spark.operators import clustering

    monkeypatch.setattr(clustering, "_LOCAL_EDGE_CAP", 0)
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["a", "b"]), "a long, b long"
    )
    # max_iterations=1 allows exactly 2 star rounds; a 31-node chain
    # cannot converge AND confirm within them
    with pytest.raises(RuntimeError, match="star rounds"):
        connected_components(df, max_iterations=1)
    # the budget is rounds, not jobs: the same chain converges well
    # inside the default allowance to one star rooted at 0
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(31)}


def test_greedy_component_cache_drains(spark):
    """Greedy resolution persists nothing through the cache.py registry:
    the one-task path reads a localCheckpoint, so the registry is empty
    while the query is live, before any release_all()."""
    from cpp_near_dedupe_spark.cache import release_all, tracked_count
    from cpp_near_dedupe_spark.operators.greedy import greedy_resolve

    release_all()
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(6)}), "doc_id long"
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"a": [0, 1], "b": [1, 2]}), "a long, b long"
    )
    try:
        out = greedy_resolve(docs, edges, CFG)
        n = out.count()
        assert n == 6
        assert tracked_count() == 0
    finally:
        release_all()


def test_resolve_and_output(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "text": ["a"] * 5}),
        schema="doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 4, 5], "cluster_id": [1, 1, 4, 4]}),
        schema="id long, cluster_id long",
    )
    resolved = resolve_clusters(docs, clusters, CFG)
    rows = {r.doc_id: (r.cluster_id, r.is_kept) for r in resolved.collect()}
    assert rows == {1: (1, True), 2: (1, False), 3: (3, True), 4: (4, True), 5: (4, False)}
    kept = dedupe_output(docs, resolved, CFG)
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4}
    assert kept.columns == docs.columns  # full passthrough schema


@pytest.mark.parametrize("order_col", [None, "ts"])
def test_resolve_computes_clusters_once(spark, order_col):
    """resolve_clusters reads ``clusters`` through one join: the clustered
    and singleton branches share its exchange, so an uncached clusters
    plan runs once. The clusters come from an RDD, as connected
    components' do (a localCheckpoint), so Spark knows no size for them
    and broadcasts the docs side wherever it may."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(1, 8), "ts": range(7, 0, -1)}),
        schema="doc_id long, ts long",
    )
    runs = spark.sparkContext.accumulator(0)

    def counted(batches):
        runs.add(1)
        yield from batches

    clusters = (
        spark.createDataFrame(
            spark.sparkContext.parallelize([(1, 1), (2, 1), (4, 4), (5, 4)]),
            schema="id long, cluster_id long",
        )
        .coalesce(1)
        .mapInPandas(counted, "id long, cluster_id long")
    )
    cfg = DedupeConfig(id_col="doc_id", order_col=order_col)
    rows = {
        r.doc_id: r.is_kept for r in resolve_clusters(docs, clusters, cfg).collect()
    }
    # ts descends with the id, so the order column flips each cluster's keeper
    keepers = {1, 4} if order_col is None else {2, 5}
    assert rows == {i: i in keepers or i in (3, 6, 7) for i in range(1, 8)}
    assert runs.value == 1
