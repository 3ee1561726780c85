"""Strict arrival-order greedy resolution (operators/greedy.py) — the
reference's exact keep/drop semantics (`ComparerThread.h:271-414`), pinned
against a sequential Python oracle, plus the incremental mode's
arrival-order discrimination between retained and dropped state docs.
"""

from collections import defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.operators.greedy import greedy_resolve

CFG = DedupeConfig(id_col="doc_id", text_col="text")


def _py_greedy(ids, edges):
    """The reference's sequential pass: in arrival order, drop a doc iff it
    matches an already-retained earlier doc."""
    earlier = defaultdict(set)
    for a, b in edges:
        lo, hi = (a, b) if a < b else (b, a)
        earlier[hi].add(lo)
    retained = set()
    for d in sorted(ids):
        if not earlier[d] & retained:
            retained.add(d)
    return retained


def _ids_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _edges_df(spark, edges):
    return spark.createDataFrame([(a, b) for a, b in edges], "a long, b long")


def test_chain_differs_from_cc(spark):
    """A~B, B~C, no A~C: CC drops B and C; greedy keeps C (its only match
    B was itself dropped) — the defining divergence of the two semantics."""
    ids = [1, 2, 3]
    out = greedy_resolve(
        _ids_df(spark, ids), _edges_df(spark, [(1, 2), (2, 3)]), CFG
    ).toPandas()
    kept = set(out[out.is_kept].doc_id)
    assert kept == {1, 3}
    from cpp_near_dedupe_spark.operators.clustering import connected_components

    cc = connected_components(_edges_df(spark, [(1, 2), (2, 3)])).toPandas()
    assert set(cc[cc.id != cc.cluster_id].id) == {2, 3}  # CC drops both


def test_clique_and_singletons(spark):
    ids = range(10)
    # clique 0-1-2 (all pairs), edge-free docs 3..9
    out = greedy_resolve(
        _ids_df(spark, ids), _edges_df(spark, [(0, 1), (0, 2), (1, 2)]), CFG
    ).toPandas()
    assert set(out[out.is_kept].doc_id) == {0, 3, 4, 5, 6, 7, 8, 9}
    assert len(out) == 10


def test_long_decision_chain(spark):
    """Alternating keep/drop down a 40-doc chain — exercises many rounds."""
    n = 40
    edges = [(i, i + 1) for i in range(n - 1)]
    out = greedy_resolve(_ids_df(spark, range(n)), _edges_df(spark, edges), CFG)
    kept = set(out.toPandas().query("is_kept").doc_id)
    assert kept == set(range(0, n, 2))


def test_matches_python_oracle_on_pipeline_edges(spark, pages_600):
    """End-to-end: real pipeline edges over the labeled corpus; the
    distributed fixed-point must equal the sequential reference pass."""
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(pages_600)), "text": pages_600.text.values})
    )
    res = run_pipeline(spark, docs, CFG, stop_after="edges")
    edge_list = [(r.a, r.b) for r in res.edges.select("a", "b").collect()]
    expected = _py_greedy(range(len(pages_600)), edge_list)

    out = greedy_resolve(docs, res.edges.select("a", "b"), CFG).toPandas()
    assert set(out[out.is_kept].doc_id) == expected
    assert len(out) == len(pages_600)


def test_incremental_drops_only_vs_retained(spark, tmp_path):
    """Reference arrival-order semantics across batches
    (`ComparerThread.h:271-414`): a batch-2 doc near-duplicating a batch-1
    RETAINED doc is dropped; one near-duplicating only a batch-1 DROPPED
    doc is kept (the dropped doc is not in the retained state)."""
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    toks = [f"w{i}" for i in range(400)]
    d1 = " ".join(toks)
    # d2: first 60 tokens replaced -> J(d1,d2) ~ 0.72 (dup of d1, dropped)
    d2 = " ".join([f"x{i}" for i in range(60)] + toks[60:])
    # d11: d2 with the LAST 60 tokens also replaced -> near-dup of d2
    # (~0.72) but J vs d1 ~ 0.5 (two disjoint 60-token blocks differ)
    d11 = " ".join([f"x{i}" for i in range(60)] + toks[60:340] + [f"y{i}" for i in range(60)])
    # d10: exact copy of d1 (dup of the RETAINED doc)
    state = SignatureState(spark, str(tmp_path / "state"))
    b1 = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    kept1 = dedupe_increment(spark, b1, state, CFG)
    assert {r.doc_id for r in kept1.collect()} == {1}  # d2 dropped vs d1

    b2 = spark.createDataFrame([(10, d1), (11, d11)], "doc_id long, text string")
    kept2 = dedupe_increment(spark, b2, state, CFG)
    # 10 matches retained doc 1 -> dropped; 11 matches only DROPPED doc 2
    # -> kept (this is what distinguishes arrival-order from CC semantics)
    assert {r.doc_id for r in kept2.collect()} == {11}


def test_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """A compact that crashes mid-rewrite lists nothing new: the manifest
    and every read are unchanged. Dirs a crashed append or compact left
    behind are never read, and the next compact deletes them."""
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from cpp_near_dedupe_spark.cache import release_all
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    texts = [" ".join(f"w{i}x{j % 97}" for j in range(300)) for i in range(3)]
    state = SignatureState(spark, str(tmp_path / "state"))
    manifest = os.path.join(state.root, "manifest.json")
    ids = lambda df: sorted(r.doc_id for r in df.collect())  # noqa: E731
    real = DataFrameWriter.parquet

    def bands_write_fails(self, path, *args, **kwargs):
        if "bands" in os.path.relpath(path, state.root).split(os.sep):
            raise RuntimeError("injected")
        return real(self, path, *args, **kwargs)

    try:
        for i, text in enumerate(texts):
            b = spark.createDataFrame([(i, text)], "doc_id long, text string")
            dedupe_increment(spark, b, state, CFG)
        listed = open(manifest).read()

        # crash inside the rewrite: the signatures base is written, unlisted
        monkeypatch.setattr(DataFrameWriter, "parquet", bands_write_fails)
        with pytest.raises(RuntimeError, match="injected"):
            state.compact(target_partitions=1)
        monkeypatch.undo()
        assert open(manifest).read() == listed
        assert os.path.exists(os.path.join(state.sig_path, "base=1"))
        assert ids(state.signatures()) == ids(state.bands().select("doc_id").distinct()) == [0, 1, 2]

        # a crashed append's half-written epoch dir is not read either
        shutil.copytree(
            os.path.join(state.sig_path, "epoch=2"), os.path.join(state.sig_path, "epoch=7")
        )
        assert ids(state.signatures()) == [0, 1, 2]

        state.compact(target_partitions=1)
        assert sorted(os.listdir(state.sig_path)) == ["base=1", "epoch=2"]
        assert sorted(os.listdir(state.bands_path)) == ["base=1", "epoch=2"]
        assert ids(state.signatures()) == [0, 1, 2]

        # the compacted state still serves batches
        b = spark.createDataFrame([(9, texts[0])], "doc_id long, text string")
        assert dedupe_increment(spark, b, state, CFG).count() == 0
    finally:
        release_all()


def test_chained_corpus_pins_greedy_vs_cc_divergence(spark):
    """The lsh_sql_greedy_kept fixture (__spark_entry__._chain_docs:
    prefix-truncated 4/5 and 13/20 token copies) must produce a~b~c
    jaccard chains with no a~c edge, where greedy keeps strictly MORE docs
    than connected-components — otherwise the driver's hash-green row
    would not distinguish the greedy semantics from CC. Also cross-checks
    the distributed greedy against the sequential Python oracle on these
    real pipeline edges."""
    import __spark_entry__ as em
    from cpp_near_dedupe_spark.operators.clustering import connected_components
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    docs = em._chain_docs(spark, "/root/testdata/sf0.01")
    res = run_pipeline(spark, docs, em.CFG, stop_after="edges", family="sql")
    edges = res.edges.select("a", "b").cache()
    edge_list = [(r.a, r.b) for r in edges.collect()]
    ids = [r.doc_id for r in docs.select("doc_id").collect()]

    out = greedy_resolve(docs, edges, em.CFG).toPandas()
    greedy_kept = set(out[out.is_kept].doc_id)
    assert greedy_kept == _py_greedy(ids, edge_list)

    cc = connected_components(edges, distinct_pairs=True).toPandas()
    cc_dropped = set(cc[cc.id != cc.cluster_id].id)
    cc_kept = set(ids) - cc_dropped
    # strict superset: every CC-kept doc is greedy-kept, plus the chain
    # endpoints whose only matches were themselves dropped
    assert cc_kept < greedy_kept
    assert len(greedy_kept - cc_kept) >= 5


def test_incremental_strict_order_matches_per_doc_reference(spark, tmp_path):
    """strict_order=True must reproduce the reference's per-doc pass where
    the default (within-batch CC first) provably differs: batch docs X < Y
    with X~Y, X matching state, Y not. Reference: X arrives, matches a
    retained state doc, dropped (never retained); Y arrives, its only
    match X is not retained, state has no match -> Y KEPT. The default
    mode drops both. Also cross-checks a 3-doc chain within one batch."""
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    toks = [f"w{i}" for i in range(400)]
    d_state = " ".join(toks)
    # X: ~0.72 vs d_state (matches state). Y: ~0.72 vs X, ~0.5 vs d_state.
    d_x = " ".join([f"x{i}" for i in range(60)] + toks[60:])
    d_y = " ".join(
        [f"x{i}" for i in range(60)] + toks[60:340] + [f"y{i}" for i in range(60)]
    )

    for strict, expect in ((False, set()), (True, {21})):
        state = SignatureState(spark, str(tmp_path / f"state_{strict}"))
        b1 = spark.createDataFrame([(1, d_state)], "doc_id long, text string")
        dedupe_increment(spark, b1, state, CFG, strict_order=strict)
        b2 = spark.createDataFrame(
            [(20, d_x), (21, d_y)], "doc_id long, text string"
        )
        kept = dedupe_increment(spark, b2, state, CFG, strict_order=strict)
        assert {r.doc_id for r in kept.collect()} == expect, f"strict={strict}"

    # within-batch chain a~b~c (no state): strict mode = greedy (keep a, c)
    d_a = d_state
    d_b = d_x
    d_c = d_y
    state = SignatureState(spark, str(tmp_path / "state_chain"))
    batch = spark.createDataFrame(
        [(1, d_a), (2, d_b), (3, d_c)], "doc_id long, text string"
    )
    kept = dedupe_increment(spark, batch, state, CFG, strict_order=True)
    assert {r.doc_id for r in kept.collect()} == {1, 3}


def _frontier_kept(spark, ids, edges, max_rounds):
    """Keep/drop map from the frontier engine alone (the cross-check
    reference); ``edges`` must already be (earlier, later)."""
    from cpp_near_dedupe_spark.operators.greedy import _frontier_dropped

    dropped = _frontier_dropped(_edges_df(spark, edges), max_rounds)
    gone = set() if dropped is None else {r.id for r in dropped.collect()}
    return {i: i not in gone for i in ids}


def test_engines_agree_and_deep_chain_is_one_job(spark, monkeypatch):
    """r4: the one-task engine decides a 500-link decision chain — 500
    rounds under the frontier engine — plus a clique and an edgeless doc
    without touching max_rounds, and the frontier engine agrees with it on
    the chain's first 40 nodes, in exactly 40 rounds."""
    from cpp_near_dedupe_spark.operators import greedy as G

    n = 500
    chain = [(i, i + 1) for i in range(n - 1)]
    extra = [(1000, 1001), (1000, 1002), (1001, 1002)]  # a clique component
    ids = list(range(n)) + [1000, 1001, 1002, 2000]  # 2000 = edgeless
    docs = _ids_df(spark, ids)
    edges = _edges_df(spark, chain + extra)

    monkeypatch.setattr(G, "LAST_FRONTIER_ROUNDS", 0)
    auto = {
        r.doc_id: r.is_kept
        for r in greedy_resolve(docs, edges, CFG).collect()
    }
    assert G.LAST_FRONTIER_ROUNDS == 0  # the whole graph is under the cap
    # alternating keep on the chain (greedy MIS from the minimum)
    for i in range(n):
        assert auto[i] == (i % 2 == 0), f"doc {i}"
    assert auto[1000] and not auto[1001] and not auto[1002]
    assert auto[2000]
    # the frontier engine on a shorter chain: rounds == decision-chain
    # depth in NODES (doc 0 decides in round 1, each successor one round
    # later -> 40 rounds for a 40-node chain)
    short = [(i, i + 1) for i in range(39)]
    frontier = _frontier_kept(spark, range(40), short, max_rounds=60)
    assert G.LAST_FRONTIER_ROUNDS == 40
    assert frontier == {i: auto[i] for i in range(40)}


def test_under_cap_is_one_job_and_one_task(spark):
    """Under the edge cap, the greedy_resolve call starts exactly one Spark
    job (the edge checkpoint and its count), and the decision is one
    mapInPandas task read once — no grouped per-component pandas pass."""
    from cpp_near_dedupe_spark.cache import tracked_count
    from cpp_near_dedupe_spark.operators.greedy import greedy_decide_py

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    edges = [(i, i + 1) for i in range(9)] + [(20, 21), (20, 22), (21, 22)]
    ids = list(range(10)) + [20, 21, 22, 30]
    docs, edges_df = _ids_df(spark, ids), _edges_df(spark, edges)
    tracked = tracked_count()

    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out = greedy_resolve(docs, edges_df, CFG)
    bus.waitUntilEmpty()
    assert len(set(sc.statusTracker().getJobIdsForGroup(None)) - before) == 1

    assert {r.doc_id: r.is_kept for r in out.collect()} == greedy_decide_py(edges, ids)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.split("== Initial Plan ==")[0].count("MapInPandas") == 1
    assert tracked_count() == tracked  # nothing registered for release


@pytest.mark.parametrize("below", [0, 1])
def test_edge_cap_boundary(spark, monkeypatch, below):
    """The cap is inclusive: with it at the edge count the one task decides
    (no frontier round); one below, the frontier takes the whole graph.
    Both equal the sequential loop."""
    from cpp_near_dedupe_spark.operators import clustering
    from cpp_near_dedupe_spark.operators import greedy as G

    edges = [(i, i + 1) for i in range(7)] + [(0, 2), (10, 11), (11, 12)]
    ids = list(range(8)) + [10, 11, 12, 13]
    monkeypatch.setattr(clustering, "_LOCAL_EDGE_CAP", len(edges) - below)
    monkeypatch.setattr(G, "LAST_FRONTIER_ROUNDS", 0)
    out = {
        r.doc_id: r.is_kept
        for r in greedy_resolve(
            _ids_df(spark, ids), _edges_df(spark, edges), CFG
        ).collect()
    }
    assert (G.LAST_FRONTIER_ROUNDS > 0) == bool(below)
    assert out == G.greedy_decide_py(edges, ids)


def test_frontier_converging_on_last_round_is_success(spark):
    """ADVICE r3: converging in exactly max_rounds must not raise (the old
    for/else raised 'did not converge' despite full convergence)."""
    chain = [(i, i + 1) for i in range(5)]  # decision depth exactly 6 nodes
    out = _frontier_kept(spark, range(6), chain, max_rounds=6)  # no RuntimeError
    assert out == {i: i % 2 == 0 for i in range(6)}


def test_frontier_round_budget_exceeded_raises_cleanly(spark):
    import pytest as _pytest

    chain = [(i, i + 1) for i in range(10)]
    with _pytest.raises(RuntimeError, match="did not converge"):
        _frontier_kept(spark, range(11), chain, max_rounds=3)


def _over_cap_greedy(spark, monkeypatch, ids, edges, cap):
    """greedy_resolve with the one-task edge cap (clustering's
    ``_LOCAL_EDGE_CAP``) lowered to ``cap``; asserts the over-cap graph
    went through the frontier engine."""
    from cpp_near_dedupe_spark.operators import clustering
    from cpp_near_dedupe_spark.operators import greedy as G

    monkeypatch.setattr(clustering, "_LOCAL_EDGE_CAP", cap)
    monkeypatch.setattr(G, "LAST_FRONTIER_ROUNDS", 0)
    out = {
        r.doc_id: r.is_kept
        for r in greedy_resolve(
            _ids_df(spark, ids), _edges_df(spark, edges), CFG
        ).collect()
    }
    assert G.LAST_FRONTIER_ROUNDS > 0
    return out


def test_auto_falls_back_to_frontier_for_big_components(spark, monkeypatch):
    """An over-cap graph routes through the frontier engine as a whole
    (the small chain beside the big star too); results must still match
    the python oracle."""
    from cpp_near_dedupe_spark.operators.greedy import greedy_decide_py

    star = [(0, j) for j in range(1, 30)]          # big (cap=10) star
    small = [(100, 101), (101, 102)]               # small chain
    ids = list(range(30)) + [100, 101, 102]
    out = _over_cap_greedy(spark, monkeypatch, ids, star + small, cap=10)
    assert out == greedy_decide_py(star + small, ids)


def test_component_cap_counts_edges_not_nodes(spark, monkeypatch):
    """r5 (VERDICT #3): the cap bounds the one task's EDGE list. A clique
    on 8 nodes carries 28 edges — under a node-count reading of cap=20 it
    would stay in the one task, but the task materializes 28 edge rows, so
    it must route to the frontier engine, and still match the python
    oracle through the fallback."""
    from cpp_near_dedupe_spark.operators.greedy import greedy_decide_py

    clique = [(i, j) for i in range(8) for j in range(i + 1, 8)]  # 28 edges
    ids = list(range(8))
    out = _over_cap_greedy(spark, monkeypatch, ids, clique, cap=20)
    assert out == greedy_decide_py(clique, ids)


def test_over_cap_deep_chain_exceeds_round_budget(spark, monkeypatch):
    """Above the cap the frontier takes the whole graph, so a decision chain
    deeper than ``max_rounds`` raises even when it is a small component."""
    from cpp_near_dedupe_spark.operators import clustering

    chain = [(i, i + 1) for i in range(10)]
    star = [(100, j) for j in range(101, 120)]
    monkeypatch.setattr(clustering, "_LOCAL_EDGE_CAP", 20)
    with pytest.raises(RuntimeError, match="did not converge"):
        greedy_resolve(
            _ids_df(spark, range(11)), _edges_df(spark, chain + star), CFG,
            max_rounds=3,
        )


def test_compact_lock_single_writer(spark, tmp_path):
    """append and compact are single-writer: while another writer holds
    the lock both raise instead of racing. A holder that dies releases the
    lock with it (the kernel drops its flock), so no stale lock blocks the
    next writer, and the state it left is intact."""
    import os
    import subprocess
    import sys

    import pandas as pd
    import pytest as _pytest

    from cpp_near_dedupe_spark.streaming.incremental import SignatureState

    state = SignatureState(spark, str(tmp_path / "state"))
    sigs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "sig_len": [1] * 20}),
    )
    bands = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "band_key": range(20)})
    )
    state.append(sigs, bands)

    # holder alive in this process: a second writer refuses
    with state._writer():
        with _pytest.raises(RuntimeError, match="one writer at a time"):
            state.compact()
        with _pytest.raises(RuntimeError, match="one writer at a time"):
            state.append(sigs, bands)

    # holder in another process, killed while it holds the lock
    hold = (
        "import fcntl, sys, time\n"
        "f = open(sys.argv[1], 'a')\n"
        "fcntl.flock(f, fcntl.LOCK_EX)\n"
        "print('held', flush=True)\n"
        "time.sleep(120)\n"
    )
    holder = subprocess.Popen(
        [sys.executable, "-c", hold, os.path.join(state.root, "_lock")],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        with _pytest.raises(RuntimeError, match="one writer at a time"):
            state.compact()
    finally:
        holder.kill()
        holder.wait(timeout=30)
        holder.stdout.close()
    assert holder.returncode is not None

    state.append(sigs, bands)
    state.append(sigs, bands)
    state.compact()
    assert sorted(os.listdir(state.sig_path)) == ["base=1", "epoch=2"]
    assert state.signatures().count() == 60
    assert state.bands().count() == 60
