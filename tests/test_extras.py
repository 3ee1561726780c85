"""Tests for the auxiliary operators: simhash, embedding ANN, multimodal
plumbing, and the incremental/streaming dedupe."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.config import DedupeConfig

CFG = DedupeConfig(id_col="doc_id", text_col="text", order_col=None)


# ------------------------------------------------------------------ simhash

def test_simhash_properties(spark):
    from cpp_near_dedupe_spark.operators.simhash import simhash_batch

    base = " ".join(f"w{i % 97}" for i in range(500))
    near = base.replace("w13", "w999", 3)
    far = " ".join(f"x{i % 89}" for i in range(500))
    h = simhash_batch([base, base, near, far, "", None])
    assert h[0] == h[1]  # deterministic
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    assert ham(h[0], h[2]) < ham(h[0], h[3])  # near-dup closer than unrelated
    assert h[4] == 0 and h[5] == 0  # empty docs


def test_simhash_candidate_pairs(spark):
    from cpp_near_dedupe_spark.operators.simhash import simhash_candidate_pairs

    base = " ".join(f"w{i % 97}" for i in range(500))
    texts = [base, base, base.replace("w13", "w999", 1), "zz yy xx ww vv uu"]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "text": texts}), "doc_id long, text string"
    )
    got = {(r.a, r.b): r.hamming for r in simhash_candidate_pairs(docs, 3).collect()}
    assert got.get((0, 1)) == 0  # identical docs: hamming 0
    assert all(h <= 3 for h in got.values())


# ------------------------------------------------------------------ ANN

@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((50, 64)).astype(np.float32)
    # make 1 a near-copy of 0
    base[1] = base[0] + rng.standard_normal(64).astype(np.float32) * 0.01
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": range(50), "embedding": [list(map(float, v)) for v in base]}),
        "vec_id long, embedding array<float>",
    )


def test_brute_force_topk_matches_numpy(spark, emb):
    from cpp_near_dedupe_spark.operators.embedding_ann import brute_force_topk

    got = brute_force_topk(emb, query_ids=[0, 7], k=3).toPandas()
    pdf = emb.toPandas()
    mat = np.stack([np.array(v, dtype=np.float64) for v in pdf.embedding])
    norms = np.linalg.norm(mat, axis=1)
    for q in (0, 7):
        cos = (mat @ mat[q]) / (norms * norms[q])
        cos[q] = -np.inf
        order = np.lexsort((np.arange(50), -np.round(cos, 6)))[:3]
        got_q = got[got.query_id == q].sort_values("rank")
        assert list(got_q.neighbor_id) == [int(i) for i in order]
    # near-copy is rank-1 neighbor of 0
    assert got[(got.query_id == 0) & (got["rank"] == 1)].neighbor_id.iloc[0] == 1


def test_lsh_topk_subset_of_bucket_and_finds_near_copy(spark, emb):
    from cpp_near_dedupe_spark.operators.embedding_ann import lsh_topk, hyperplane_buckets

    got = lsh_topk(emb, query_ids=[0], k=3, n_tables=8).toPandas()
    # every returned neighbor shares >=1 of the 8 per-table buckets with
    # the query (the candidate-generation contract)
    bdf = hyperplane_buckets(emb, n_tables=8).toPandas()
    q_buckets = {
        (r.table, r.bucket) for r in bdf[bdf.vec_id == 0].itertuples()
    }
    for n in got.neighbor_id:
        n_buckets = {(r.table, r.bucket) for r in bdf[bdf.vec_id == n].itertuples()}
        assert q_buckets & n_buckets, f"neighbor {n} shares no bucket with query"
    # a 0.01-noise copy lands in the same bucket and is found first
    assert got.sort_values("rank").neighbor_id.iloc[0] == 1


# ------------------------------------------------------------------ multimodal

def test_binary_features_plumbing(spark):
    from cpp_near_dedupe_spark.operators.multimodal import binary_features, with_binary_payload

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["abc", "", None]}),
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in binary_features(with_binary_payload(docs)).collect()}
    assert got[1].n_bytes == 3
    assert got[1].md5_hex == __import__("hashlib").md5(b"abc").hexdigest()
    assert got[1].fake_width == ord("a") + 1
    assert got[2].n_bytes == 0 and got[3].n_bytes == 0
    assert got[2].fake_width == 1  # empty payload stub


def test_binary_features_decode_gate(spark):
    from cpp_near_dedupe_spark.operators.multimodal import binary_features, with_binary_payload
    from py4j.protocol import Py4JJavaError

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["x"]}), "doc_id long, text string"
    )
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        binary_features(with_binary_payload(docs), decode_stub=False).collect()


# ------------------------------------------------------------------ incremental

def _mk_docs(spark, ids_texts):
    return spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [i for i, _ in ids_texts], "text": [t for _, t in ids_texts]}
        ),
        "doc_id long, text string",
    )


def test_incremental_matches_reference_semantics(spark, tmp_path):
    from cpp_near_dedupe_spark.streaming.incremental import SignatureState, dedupe_increment

    base = " ".join(f"w{i % 101}" for i in range(400))
    other = " ".join(f"q{i % 91}" for i in range(400))
    state = SignatureState(spark, str(tmp_path / "state"))

    # batch 1: two copies of base + one unique -> keeps 2 docs
    b1 = _mk_docs(spark, [(1, base), (2, base), (3, other)])
    kept1 = dedupe_increment(spark, b1, state, CFG)
    assert {r.doc_id for r in kept1.collect()} == {1, 3}

    # batch 2: another copy of base (dupe of retained) + a new unique
    new = " ".join(f"z{i % 83}" for i in range(400))
    b2 = _mk_docs(spark, [(10, base), (11, new)])
    kept2 = dedupe_increment(spark, b2, state, CFG)
    assert {r.doc_id for r in kept2.collect()} == {11}

    # state now holds 3 retained docs
    assert state.signatures().count() == 3


def test_incremental_sql_family_same_semantics(spark, tmp_path):
    """r5: dedupe_increment(family='sql') runs the SAME machinery under
    the md5 hash family (the driver-oracle-checkable mode,
    incremental_sql_dedupe). Near-identical texts must behave like the
    parity family: within-batch dupe dropped, cross-batch dupe of a
    RETAINED doc dropped, dupe of a DROPPED doc kept."""
    import dataclasses

    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    cfg = dataclasses.replace(CFG, pair_topology="all_pairs")
    base = " ".join(f"w{i % 101}" for i in range(400))
    other = " ".join(f"q{i % 91}" for i in range(400))
    state = SignatureState(spark, str(tmp_path / "state_sql"))

    b1 = _mk_docs(spark, [(1, base), (2, base), (3, other)])
    kept1 = dedupe_increment(spark, b1, state, cfg, family="sql")
    assert {r.doc_id for r in kept1.collect()} == {1, 3}

    new = " ".join(f"z{i % 83}" for i in range(400))
    b2 = _mk_docs(spark, [(10, base), (11, new)])
    kept2 = dedupe_increment(spark, b2, state, cfg, family="sql")
    assert {r.doc_id for r in kept2.collect()} == {11}
    assert state.signatures().count() == 3
    # md5-family sketches are hex strings (the oracle-computable family)
    row = state.signatures().limit(1).collect()[0]
    assert isinstance(row.signature[0], str)


@pytest.mark.parametrize("family", ["parity", "sql"])
@pytest.mark.parametrize("strict", [False, True], ids=["default", "strict"])
def test_incremental_result_outlives_state_dir(spark, tmp_path, strict, family):
    """The returned frame reads survivor ids materialized before the state
    append, not the state itself: with the state root moved away after the
    call, collecting it still gives the batch's survivors."""
    import os

    from cpp_near_dedupe_spark.cache import release_all, tracked_count
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    base = " ".join(f"w{i % 101}" for i in range(400))
    other = " ".join(f"q{i % 91}" for i in range(400))
    new = " ".join(f"z{i % 83}" for i in range(400))
    state = SignatureState(spark, str(tmp_path / "state"))
    run = lambda docs: dedupe_increment(  # noqa: E731
        spark, _mk_docs(spark, docs), state, CFG, strict_order=strict, family=family
    )
    try:
        run([(1, base), (2, base), (3, other)])
        kept2 = run([(10, base), (11, new), (12, new)])
        os.rename(state.root, str(tmp_path / "moved"))
        assert {r.doc_id for r in kept2.collect()} == {11}
    finally:
        release_all()
    assert tracked_count() == 0


@pytest.mark.parametrize("strict", [False, True], ids=["default", "strict"])
def test_incremental_returns_the_appended_ids(spark, tmp_path, strict):
    """In every batch the returned ids are exactly the ids that batch
    appended to the state's signatures."""
    from cpp_near_dedupe_spark.cache import release_all, tracked_count
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    texts = [" ".join(f"{p}{i % m}" for i in range(400)) for p, m in
             (("w", 101), ("q", 91), ("z", 83), ("y", 79), ("x", 73))]
    batches = [
        [(1, texts[0]), (2, texts[0]), (3, texts[1])],
        [(10, texts[0]), (11, texts[2]), (12, texts[3]), (13, texts[3])],
        [(20, texts[1]), (21, texts[2]), (22, texts[4])],
    ]
    state = SignatureState(spark, str(tmp_path / "state"))
    retained: set[int] = set()
    try:
        for docs in batches:
            kept = dedupe_increment(
                spark, _mk_docs(spark, docs), state, CFG, strict_order=strict
            )
            ids = {r.doc_id for r in kept.collect()}
            state_ids = {r.doc_id for r in state.signatures().select("doc_id").collect()}
            assert ids == state_ids - retained
            retained = state_ids
            release_all()
            assert tracked_count() == 0
    finally:
        release_all()
    assert retained == {1, 3, 11, 12, 22}


def _chain_texts():
    """Three texts S ~ Y ~ X with X !~ S at threshold 0.7 under both
    families: Y is S with 9 words replaced, X is Y with 9 more, in disjoint
    shingle windows. Every shingle an edit removes or adds has an md5 above
    S's 60 smallest, so the md5 family's sorted-sketch prefix (its first
    bands) stays shared along the chain."""
    import hashlib

    def md5(words):
        return hashlib.md5(" ".join(words).encode()).hexdigest()

    base = [f"t{i}x" for i in range(400)]
    floor = sorted(md5(base[i : i + 5]) for i in range(396))[60]
    edits = {}
    for p in range(4, 396, 5):
        for new in (f"e{p}r{r}" for r in range(100)):
            w = base[:p] + [new] + base[p + 1 :]
            if all(min(md5(ws[i : i + 5]) for i in range(p - 4, p + 1)) > floor
                   for ws in (base, w)):
                edits[p] = new
                break

    def edited(n):
        first = dict(list(edits.items())[:n])
        return " ".join(first.get(p, t) for p, t in enumerate(base))

    return edited(0), edited(18), edited(9)


@pytest.mark.parametrize("family", ["parity", "sql"])
def test_incremental_batch_drop_that_matches_state(spark, tmp_path, family):
    """A doc dropped within its batch (Y, losing to X) that also matches
    state (S) changes nothing: the state match runs over the whole batch,
    and X, which does not match state, survives."""
    from cpp_near_dedupe_spark.cache import release_all
    from cpp_near_dedupe_spark.plans.pipeline import hash_family
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        _state_matches,
        dedupe_increment,
    )

    s, x, y = _chain_texts()
    new = " ".join(f"z{i % 83}" for i in range(400))
    state = SignatureState(spark, str(tmp_path / "state"))
    run = lambda docs: {  # noqa: E731
        r.doc_id
        for r in dedupe_increment(
            spark, _mk_docs(spark, docs), state, CFG, family=family
        ).collect()
    }
    try:
        assert run([(1, s)]) == {1}
        batch = _mk_docs(spark, [(10, x), (11, y), (12, new)])
        fam = hash_family(family)
        cfg = fam.config(CFG)
        sigs = fam.sketch(batch, cfg)
        dup = _state_matches(state, sigs, fam.bands(sigs, cfg), cfg, fam.score)
        assert {r.doc_id for r in dup.collect()} == {11}
        assert run([(10, x), (11, y), (12, new)]) == {10, 12}
    finally:
        release_all()


@pytest.mark.parametrize("family", ["parity", "sql"])
def test_incremental_crawl_equals_kept_minus_kept_matches(spark, tmp_path, family):
    """A 3-batch generated crawl in warc_ts order returns, batch by batch,
    the within-batch survivors minus those of them that match state (the
    state match over the survivors' own signatures and bands)."""
    from cpp_near_dedupe_spark.cache import release_all
    from cpp_near_dedupe_spark.plans.pipeline import hash_family
    from cpp_near_dedupe_spark.sources.datagen import generate_pages
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        _state_matches,
        dedupe_increment,
    )

    cfg = DedupeConfig(id_col="doc_id", text_col="text", order_col="warc_ts")
    fam = hash_family(family)
    pages = generate_pages(300, seed=5).sort_values("warc_ts", kind="stable")
    pages = pages.assign(doc_id=np.arange(len(pages)))[["doc_id", "warc_ts", "text"]]
    state = SignatureState(spark, str(tmp_path / "state"))
    dropped_by_state = 0
    try:
        for i, part in enumerate(np.array_split(pages, 3)):
            docs = spark.createDataFrame(part)
            fresh = SignatureState(spark, str(tmp_path / f"fresh{i}"))
            kept = dedupe_increment(spark, docs, fresh, cfg, family=family)
            kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
            expected = kept_ids
            if state.exists():
                c = fam.config(cfg)
                sigs = fam.sketch(docs, c).join(kept, "doc_id", "left_semi")
                dup = _state_matches(state, sigs, fam.bands(sigs, c), c, fam.score)
                expected = kept_ids - {r.doc_id for r in dup.collect()}
            got = dedupe_increment(spark, docs, state, cfg, family=family)
            assert {r.doc_id for r in got.collect()} == expected
            dropped_by_state += len(kept_ids - expected)
            release_all()
    finally:
        release_all()
    assert dropped_by_state > 0


@pytest.mark.parametrize("field", ["bands", "hot_band_cap", "num_hashes", "shingle_k"])
def test_config_sizes_below_one_are_rejected(spark, tmp_path, field):
    """Every size a CLI flag reaches must be >= 1: validate() raises
    ValueError (not ZeroDivisionError, nor a later Spark failure), and
    dedupe_increment validates before it plans anything."""
    import dataclasses

    from cpp_near_dedupe_spark.plans.run_pipeline import main
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    bad = dataclasses.replace(CFG, **{field: 0})
    with pytest.raises(ValueError, match=field):
        bad.validate()
    state = SignatureState(spark, str(tmp_path / "state"))
    with pytest.raises(ValueError, match=field):
        dedupe_increment(spark, _mk_docs(spark, [(1, "a b c d e f")]), state, bad)
    flag = "--" + field.replace("_", "-")
    with pytest.raises(ValueError, match=field):
        main(["--input", "unused", "--output", "unused", flag, "0"])


def _tree_bytes(root):
    import pathlib

    return {p: p.read_bytes() for p in pathlib.Path(root).rglob("*") if p.is_file()}


@pytest.mark.parametrize(
    "fails, strict",
    [("state_match", False), ("state_match", True), ("batch_pass", False)],
    ids=["state_match-default", "state_match-strict", "batch_pass-default"],
)
def test_incremental_failure_appends_nothing(spark, tmp_path, monkeypatch, fails, strict):
    """A batch whose state match (on the helper thread) or within-batch
    pass (on the caller's thread) raises re-raises the error, leaves the
    state directories byte-for-byte unchanged, and has no job still
    running when the call returns."""
    import time

    from cpp_near_dedupe_spark.cache import release_all, tracked_count
    from cpp_near_dedupe_spark.streaming import incremental

    base = " ".join(f"w{i % 101}" for i in range(400))
    new = " ".join(f"z{i % 83}" for i in range(400))
    state = incremental.SignatureState(spark, str(tmp_path / "state"))
    incremental.dedupe_increment(spark, _mk_docs(spark, [(1, base)]), state, CFG)
    before = _tree_bytes(state.root)
    real = incremental._state_matches

    def boom(*args, **kwargs):
        raise RuntimeError("injected")

    def slow_match(*args, **kwargs):
        # a state match whose job is still running when the batch pass fails
        def nap(batches):
            for b in batches:
                time.sleep(3)
                yield b

        dups = real(*args, **kwargs)
        return dups.coalesce(1).mapInPandas(nap, dups.schema)

    if fails == "state_match":
        monkeypatch.setattr(incremental, "_state_matches", boom)
    else:
        monkeypatch.setattr(incremental, "_state_matches", slow_match)
        monkeypatch.setattr(incremental, "candidate_pairs", boom)
    try:
        with pytest.raises(RuntimeError, match="injected"):
            incremental.dedupe_increment(
                spark, _mk_docs(spark, [(10, base), (11, new)]), state, CFG,
                strict_order=strict,
            )
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
        assert _tree_bytes(state.root) == before
    finally:
        release_all()
    assert tracked_count() == 0


@pytest.mark.parametrize("strict", [False, True], ids=["default", "strict"])
def test_incremental_jobs_run_in_callers_job_group(spark, tmp_path, strict):
    """Every job of a batch against state, the helper threads' included,
    runs in the caller's job group, so cancelJobGroup reaches them."""
    from cpp_near_dedupe_spark.cache import release_all
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    base = " ".join(f"w{i % 101}" for i in range(400))
    new = " ".join(f"z{i % 83}" for i in range(400))
    state = SignatureState(spark, str(tmp_path / "state"))
    run = lambda docs: dedupe_increment(  # noqa: E731
        spark, _mk_docs(spark, docs), state, CFG, strict_order=strict
    ).collect()
    try:
        run([(1, base)])
        bus.waitUntilEmpty()
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup("g", "one batch against state")
        try:
            assert {r.doc_id for r in run([(10, base), (11, new)])} == {11}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup("g")
        assert set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped == set()
    finally:
        release_all()


def test_stream_dedupe_available_now(spark, tmp_path):
    from cpp_near_dedupe_spark.streaming.incremental import stream_dedupe

    base = " ".join(f"w{i % 101}" for i in range(400))
    src_dir = str(tmp_path / "src")
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [base, base, "short doc here only"]}
    )
    spark.createDataFrame(pdf, "doc_id long, text string").write.parquet(src_dir)

    source = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
    q = stream_dedupe(
        spark,
        source,
        state_dir=str(tmp_path / "state"),
        output_dir=str(tmp_path / "out"),
        cfg=CFG,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r.doc_id for r in out.collect()} == {1, 3}


def test_signature_state_compact(spark, tmp_path):
    """Compaction merges every epoch but the newest into one base of few
    files, preserving content exactly. The newest epoch stays its own
    entry, byte for byte, so replaying it is still a no-op; the state
    serves new batches after the swap."""
    import glob
    import os

    from cpp_near_dedupe_spark.cache import release_all
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    state = SignatureState(spark, str(tmp_path / "state"))
    texts = [" ".join(f"w{i}x{j % 29}" for j in range(120)) for i in range(16)]
    batch = lambda b: _mk_docs(spark, [(b * 4 + i, texts[b * 4 + i]) for i in range(4)])  # noqa: E731
    part_files = lambda name: glob.glob(os.path.join(state.sig_path, name, "*.parquet"))  # noqa: E731
    try:
        for b in range(4):
            kept3 = sorted(r.doc_id for r in dedupe_increment(spark, batch(b), state, CFG).collect())
        before_sigs = state.signatures().toPandas().sort_values("doc_id")
        newest = _tree_bytes(os.path.join(state.sig_path, "epoch=3"))
        n_files_before = sum(len(part_files(f"epoch={e}")) for e in range(3))
        state.compact(target_partitions=2)
        after_sigs = state.signatures().toPandas().sort_values("doc_id")
        assert sorted(os.listdir(state.sig_path)) == ["base=2", "epoch=3"]
        assert sorted(os.listdir(state.bands_path)) == ["base=2", "epoch=3"]
        assert len(part_files("base=2")) <= 2 < n_files_before
        assert _tree_bytes(os.path.join(state.sig_path, "epoch=3")) == newest
        assert list(before_sigs.doc_id) == list(after_sigs.doc_id) == list(range(16))
        assert [list(s) for s in before_sigs.signature] == [list(s) for s in after_sigs.signature]
        # the newest epoch still replays to its first kept set, writing nothing
        tree = _tree_bytes(state.root)
        again = dedupe_increment(spark, batch(3), state, CFG, epoch=3)
        assert sorted(r.doc_id for r in again.collect()) == kept3 == [12, 13, 14, 15]
        assert _tree_bytes(state.root) == tree
        # state still serves new batches after the swap
        more = _mk_docs(spark, [(100, texts[0])])
        assert dedupe_increment(spark, more, state, CFG).count() == 0  # dupe of doc 0
    finally:
        release_all()


def test_incremental_epoch_replay_returns_same_ids(spark, tmp_path):
    """A batch run again with an epoch the state already lists returns the
    ids its first run kept and writes nothing; an epoch below the newest
    that was never committed is refused."""
    from cpp_near_dedupe_spark.cache import release_all
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    base = " ".join(f"w{i % 101}" for i in range(400))
    new = " ".join(f"z{i % 83}" for i in range(400))
    other = " ".join(f"q{i % 79}" for i in range(400))
    state = SignatureState(spark, str(tmp_path / "state"))
    run = lambda docs, epoch: sorted(  # noqa: E731
        r.doc_id
        for r in dedupe_increment(spark, _mk_docs(spark, docs), state, CFG, epoch=epoch).collect()
    )
    second = [(10, base), (11, new), (12, new)]
    try:
        assert run([(1, base)], 0) == [1]
        first = run(second, 1)
        tree = _tree_bytes(state.root)
        assert run(second, 1) == first == [11]
        assert _tree_bytes(state.root) == tree
        assert sorted(r.doc_id for r in state.signatures().collect()) == [1, 11]
        assert run([(20, other)], 5) == [20]
        with pytest.raises(ValueError, match="not above the newest"):
            run([(30, other + " x")], 3)
    finally:
        release_all()


def test_incremental_crash_between_state_writes(spark, tmp_path, monkeypatch):
    """A batch whose bands write fails after its signatures write lists no
    epoch: every read of the state is unchanged, and the rerun commits the
    epoch once."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from cpp_near_dedupe_spark.cache import release_all
    from cpp_near_dedupe_spark.streaming.incremental import (
        SignatureState,
        dedupe_increment,
    )

    base = " ".join(f"w{i % 101}" for i in range(400))
    new = " ".join(f"z{i % 83}" for i in range(400))
    state = SignatureState(spark, str(tmp_path / "state"))
    ids = lambda df: sorted(r.doc_id for r in df.select("doc_id").distinct().collect())  # noqa: E731
    real = DataFrameWriter.parquet

    def bands_write_fails(self, path, *args, **kwargs):
        if "bands" in os.path.relpath(path, state.root).split(os.sep):
            raise RuntimeError("injected")
        return real(self, path, *args, **kwargs)

    second = [(10, base), (11, new)]
    try:
        dedupe_increment(spark, _mk_docs(spark, [(1, base)]), state, CFG)
        monkeypatch.setattr(DataFrameWriter, "parquet", bands_write_fails)
        with pytest.raises(RuntimeError, match="injected"):
            dedupe_increment(spark, _mk_docs(spark, second), state, CFG)
        monkeypatch.undo()
        assert ids(state.signatures()) == ids(state.bands()) == [1]
        assert state.committed(1) is None
        kept = dedupe_increment(spark, _mk_docs(spark, second), state, CFG)
        assert ids(kept) == [11]
        assert sorted(r.doc_id for r in state.signatures().collect()) == [1, 11]
        assert ids(state.bands()) == [1, 11]
        assert ids(state.committed(1)) == [11]
    finally:
        release_all()


def test_stream_dedupe_replay_is_a_noop(spark, tmp_path):
    """A micro-batch the query re-runs (its commit file lost, as after a
    crash between the sink write and the commit) rewrites the same output
    rows and leaves the state tree byte-for-byte unchanged."""
    import os

    from cpp_near_dedupe_spark.streaming.incremental import stream_dedupe

    base = " ".join(f"w{i % 101}" for i in range(400))
    new = " ".join(f"z{i % 83}" for i in range(400))
    src, out, state_dir, ckpt = (str(tmp_path / n) for n in ("src", "out", "state", "ckpt"))
    for rows in ([(1, base), (2, base), (3, "short doc here only")], [(10, base), (11, new)]):
        _mk_docs(spark, rows).coalesce(1).write.mode("append").parquet(src)

    def run():
        source = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_dedupe(spark, source, state_dir, out, CFG, checkpoint_dir=ckpt)
        assert q.awaitTermination(120)
        assert q.exception() is None
        rows = spark.read.parquet(out).select("doc_id", "text").collect()
        return sorted(rows), _tree_bytes(state_dir)

    rows, tree = run()
    # the file source orders the two files by modification time
    assert {r.doc_id for r in rows} in ({1, 3, 11}, {3, 10, 11})
    commits = os.path.join(ckpt, "commits")
    assert sorted(n for n in os.listdir(commits) if n.isdigit()) == ["0", "1"]
    for name in ("1", ".1.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    assert run() == (rows, tree)
    assert os.path.exists(os.path.join(commits, "1"))  # the batch did re-run


def test_simhash_batch_global_equals_perdoc():
    """r4: the batch-global kernel (one run-detection pass, byte-histogram
    bit counting) must be bit-equal to the per-doc reference formulation
    on a shape-diverse batch (empty, punct-only, unicode, short, long)."""
    import random
    import string

    import numpy as np

    from cpp_near_dedupe_spark.operators.simhash import (
        simhash_batch,
        simhash_batch_perdoc,
    )

    rng = random.Random(11)

    def mk(n):
        return " ".join(
            "".join(
                rng.choices(string.ascii_letters + "0123456789éü ", k=rng.randint(1, 12))
            )
            for _ in range(n)
        )

    texts = (
        [mk(rng.randint(0, 200)) for _ in range(300)]
        + ["", "   ...!!", "a", "ÀÉ漢字 test 123", "x" * 4000, "7 7 7 seven"]
    )
    assert np.array_equal(simhash_batch_perdoc(texts), simhash_batch(texts))


def test_remove_repeated_lines_semantics(spark):
    """r5: C4/RefinedWeb-style corpus-wide boilerplate-line removal — a
    line in >= min_docs DISTINCT docs is dropped from every doc, survivors
    keep original order, a fully-boilerplate doc cleans to empty."""
    import hashlib

    from cpp_near_dedupe_spark.operators.text_analysis import remove_repeated_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha\nBOILER\nbeta"),
            (2, "BOILER\ngamma"),
            (3, "BOILER"),
            (4, "standalone"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_repeated_lines(docs, min_docs=2).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (out[1].n_lines, out[1].n_removed) == (3, 1)
    assert out[1].clean_md5 == md5("alpha\nbeta")  # order preserved
    assert out[2].clean_md5 == md5("gamma")
    assert (out[3].n_removed, out[3].clean_md5) == (1, md5(""))  # all removed
    assert (out[4].n_removed, out[4].clean_md5) == (0, md5("standalone"))
    # within-doc repetition alone is NOT boilerplate (distinct-doc count)
    solo = spark.createDataFrame(
        [(1, "dup\ndup\nx"), (2, "y")], "doc_id long, text string"
    )
    r1 = {r.doc_id: r for r in remove_repeated_lines(solo, min_docs=2).collect()}[1]
    assert r1.n_removed == 0 and r1.clean_md5 == md5("dup\ndup\nx")
