"""End-to-end pipeline tests on the synthetic labeled pages corpus:
pairwise F1 at matched band keys (the BASELINE.json metric), exact-dupe
perfection, permutation invariance, idempotence, and resume-from-checkpoint.
"""

import dataclasses

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.plans.pipeline import run_pipeline
from cpp_near_dedupe_spark.plans.quality import (
    oracle_labeled_pairs,
    pairwise_f1,
    union_find_clusters,
)
from cpp_near_dedupe_spark.sources.pages import with_doc_id

CFG = DedupeConfig(id_col="doc_id", text_col="text", order_col="warc_ts")


@pytest.fixture(scope="module")
def piped(spark, pages_600):
    docs = with_doc_id(
        spark.createDataFrame(pages_600[["url", "warc_ts", "html", "text", "lang"]]), CFG
    )
    res = run_pipeline(spark, docs, CFG)
    resolved = res.resolved.toPandas()
    docmap = docs.select("url", "doc_id").toPandas()
    resolved = resolved.merge(docmap, on="doc_id")
    url_cluster = dict(zip(resolved.url, resolved.cluster_id))
    return res, resolved, url_cluster


def test_pairwise_f1_at_matched_band_keys(pages_600, piped):
    _, _, url_cluster = piped
    urls = pages_600.url.tolist()
    pairs, jac, _ = oracle_labeled_pairs(pages_600.text.tolist(), CFG.threshold)
    stats = pairwise_f1(
        pairs, jac, lambda i, j: url_cluster[urls[i]] == url_cluster[urls[j]], CFG.threshold
    )
    assert stats.recall == pytest.approx(1.0), stats
    assert stats.f1 >= 0.99, stats


def test_exact_dupes_perfectly_clustered(pages_600, piped):
    _, resolved, url_cluster = piped
    lab = pages_600.merge(resolved[["url", "cluster_id", "is_kept"]], on="url")
    exact = lab[lab.kind.isin(["exact", "edge_same_text"])]
    for gid, grp in exact.groupby("group_id"):
        assert grp.cluster_id.nunique() == 1, f"group {gid} split"
        assert grp.is_kept.sum() == 1, f"group {gid} kept != 1"


def test_empty_and_short_docs_are_singletons(pages_600, piped):
    _, resolved, _ = piped
    lab = pages_600.merge(resolved[["url", "cluster_id", "is_kept"]], on="url")
    # <5-word docs and empty/null docs can never be duplicates
    shorts = lab[
        lab.text.isna() | (lab.text.fillna("").str.split().str.len() < 5)
    ]
    assert shorts.is_kept.all()
    for _, row in shorts.iterrows():
        assert (lab.cluster_id == row.cluster_id).sum() == 1


def test_kept_representative_is_first_seen(pages_600, piped):
    _, resolved, _ = piped
    lab = pages_600.merge(resolved[["url", "cluster_id", "is_kept"]], on="url")
    for cid, grp in lab.groupby("cluster_id"):
        if len(grp) > 1:
            kept = grp[grp.is_kept]
            assert len(kept) == 1
            # the kept doc is the earliest-crawled (warc_ts ties broken by
            # doc_id inside the pipeline; don't assert on tie order here)
            assert kept.iloc[0].warc_ts == grp.warc_ts.min()


def test_clusters_match_union_find_over_pipeline_edges(spark, pages_600, piped):
    res, resolved, url_cluster = piped
    # the pipeline's own edges, re-clustered with an exact union-find oracle,
    # must produce the same partition (validates large-star/small-star).
    edges = res.edges.select("a", "b").toPandas()
    ids = resolved.doc_id.tolist()
    idx = {d: i for i, d in enumerate(ids)}
    uf = union_find_clusters(len(ids), [(idx[a], idx[b]) for a, b in zip(edges.a, edges.b)])
    got = dict(zip(resolved.doc_id, resolved.cluster_id))
    # same-partition relation must match
    clusters_by_root = {}
    for i, d in enumerate(ids):
        clusters_by_root.setdefault(uf[i], []).append(d)
    for members in clusters_by_root.values():
        assert len({got[d] for d in members}) == 1
    assert len(clusters_by_root) == len(set(got.values()))


def test_permutation_invariance(spark, pages_600):
    # shuffling input rows must not change cluster membership (stronger than
    # the reference's order-dependent greedy pass — documented divergence)
    sub = pages_600.head(150)
    shuffled = sub.sample(frac=1.0, random_state=99).reset_index(drop=True)
    outs = []
    for pdf in (sub, shuffled):
        docs = with_doc_id(
            spark.createDataFrame(pdf[["url", "warc_ts", "html", "text", "lang"]]), CFG
        )
        res = run_pipeline(spark, docs, CFG)
        r = res.resolved.toPandas().merge(
            docs.select("url", "doc_id").toPandas(), on="doc_id"
        )
        outs.append(dict(zip(r.url, r.cluster_id)))
    a, b = outs
    assert set(a) == set(b)
    # cluster ids are min-doc_id labels -> identical, not just isomorphic
    assert a == b


def test_idempotence(spark, pages_600):
    # dedupe(dedupe(X)) keeps everything: output has no remaining dupes
    sub = pages_600.head(200)
    docs = with_doc_id(
        spark.createDataFrame(sub[["url", "warc_ts", "html", "text", "lang"]]), CFG
    )
    res1 = run_pipeline(spark, docs, CFG)
    from cpp_near_dedupe_spark.operators.resolve import dedupe_output

    kept = dedupe_output(docs, res1.resolved, CFG)
    res2 = run_pipeline(spark, kept, CFG)
    r2 = res2.resolved.toPandas()
    assert r2.is_kept.all()
    assert len(r2) == kept.count()


def test_resume_from_checkpoint(spark, pages_600, tmp_path):
    sub = pages_600.head(150)
    docs = with_doc_id(
        spark.createDataFrame(sub[["url", "warc_ts", "html", "text", "lang"]]), CFG
    )
    ckpt = str(tmp_path / "ckpt")
    # run a prefix, "crash", then resume to completion
    prefix = run_pipeline(
        spark, docs, CFG, checkpoint_dir=ckpt, input_token="t1", stop_after="pairs"
    )
    import json, os

    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert set(manifest) == {"signatures", "sig_reps", "bands", "pairs"}
    assert all("schema" in e for e in manifest.values())
    sig_mtime = os.path.getmtime(os.path.join(ckpt, "signatures", "_SUCCESS"))

    res = run_pipeline(spark, docs, CFG, checkpoint_dir=ckpt, input_token="t1")
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert set(manifest) == {
        "signatures", "sig_reps", "bands", "pairs", "edges", "clusters", "resolved"
    }
    # completed stages were NOT recomputed
    assert os.path.getmtime(os.path.join(ckpt, "signatures", "_SUCCESS")) == sig_mtime
    # resumed stages read back with the schemas they were written with;
    # a fully resumed run does so for every stage
    for name in ("signatures", "bands", "pairs"):
        assert getattr(res, name).schema == getattr(prefix, name).schema, name
    again = run_pipeline(spark, docs, CFG, checkpoint_dir=ckpt, input_token="t1")
    for name in ("signatures", "bands", "pairs", "edges", "clusters", "resolved"):
        assert getattr(again, name).schema == getattr(res, name).schema, name

    # resumed result identical to a fresh run
    fresh = run_pipeline(spark, docs, CFG)
    a = res.resolved.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = fresh.resolved.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # metrics lineage recorded per stage
    metrics = spark.read.parquet(os.path.join(ckpt, "_metrics"))
    stages = {r.stage for r in metrics.select("stage").distinct().collect()}
    assert {"signatures", "bands", "pairs", "edges", "clusters", "resolved"} <= stages
    _assert_counters_describe_stages(spark, ckpt)

    # the hash family is part of the fingerprint: a sql run over the same
    # dir and input token never resumes the parity checkpoint
    sig_success = os.path.join(ckpt, "signatures", "_SUCCESS")
    run_pipeline(
        spark, docs, CFG, checkpoint_dir=ckpt, input_token="t1",
        stop_after="pairs", family="sql",
    )
    sql_sig_mtime = os.path.getmtime(sig_success)
    assert sql_sig_mtime != sig_mtime

    # sql prefix + resumed completion == a fresh sql run without checkpoint
    res_sql = run_pipeline(
        spark, docs, CFG, checkpoint_dir=ckpt, input_token="t1", family="sql"
    )
    assert os.path.getmtime(sig_success) == sql_sig_mtime
    fresh_sql = run_pipeline(spark, docs, CFG, family="sql")
    a = res_sql.resolved.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = fresh_sql.resolved.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert not b.is_kept.all()  # the sql chain finds duplicates here too

    # config change invalidates the cache
    cfg2 = DedupeConfig(id_col="doc_id", text_col="text", order_col="warc_ts", threshold=0.8)
    run_pipeline(spark, docs, cfg2, checkpoint_dir=ckpt, input_token="t1", stop_after="signatures")
    assert os.path.getmtime(os.path.join(ckpt, "signatures", "_SUCCESS")) != sig_mtime

    # rewritten stages (sql family, then the config change) replace their
    # counters instead of piling new ones on top
    _assert_counters_describe_stages(spark, ckpt)


def test_interrupted_rewrite_is_not_resumed(spark, tmp_path, monkeypatch):
    """A stage rewrite under a changed config that dies after its parquet
    commit, before its manifest entry is saved, leaves no entry behind: a
    rerun under the old config recomputes the stage instead of resuming
    the other config's files."""
    from cpp_near_dedupe_spark.plans.pipeline import CheckpointStore

    # > num_hashes distinct shingles per doc: every sketch is full length
    texts = [" ".join(f"w{i}x{j}" for j in range(400)) for i in range(6)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id long, text string",
    )
    cfg = DedupeConfig(id_col="doc_id", text_col="text")
    ckpt = str(tmp_path / "ckpt")

    def sig_lengths(res):
        return {len(r.signature) for r in res.signatures.select("signature").collect()}

    first = run_pipeline(spark, docs, cfg, checkpoint_dir=ckpt, stop_after="signatures")
    assert sig_lengths(first) == {cfg.num_hashes}

    def crash(self, stage):
        raise RuntimeError("died after the parquet commit")

    with monkeypatch.context() as m:
        m.setattr(CheckpointStore, "_record_file_rows", crash)
        with pytest.raises(RuntimeError, match="died after"):
            run_pipeline(
                spark, docs, dataclasses.replace(cfg, num_hashes=128),
                checkpoint_dir=ckpt, stop_after="signatures",
            )
    rerun = run_pipeline(spark, docs, cfg, checkpoint_dir=ckpt, stop_after="signatures")
    assert sig_lengths(rerun) == {cfg.num_hashes}


def _assert_counters_describe_stages(spark, ckpt):
    """Each checkpointed stage's ``_metrics`` rows: one per part file,
    summing to the manifest ``rows`` and to the stage's row count."""
    import json, os

    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    metrics = spark.read.parquet(os.path.join(ckpt, "_metrics")).toPandas()
    for stage, entry in manifest.items():
        counters = metrics[metrics.stage == stage]
        parts = [
            n for n in os.listdir(os.path.join(ckpt, stage))
            if n.startswith("part-") and n.endswith(".parquet")
        ]
        assert len(counters) == len(parts), stage
        n = spark.read.parquet(os.path.join(ckpt, stage)).count()
        assert counters.rows.sum() == entry["rows"] == n, stage


def test_checkpoint_leaves_chain_star_outputs_unchanged(spark, tmp_path):
    """The store only stores: with band buckets just over ``hot_band_cap``
    (a 12-member near-duplicate family under cap 8), a checkpointed
    chain_star run has the same pairs, edges and resolved rows as an
    uncheckpointed one, and records the over-cap buckets in its manifest."""
    import json, os

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(5000)]
    base = " ".join(rng.choice(vocab, 300))
    family = [f"{base} tail{i} end{i}" for i in range(12)]
    others = [" ".join(rng.choice(vocab, 300)) for _ in range(30)]
    texts = family + others
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id long, text string",
    )
    cfg = DedupeConfig(id_col="doc_id", text_col="text", hot_band_cap=8)
    assert cfg.pair_topology == "chain_star"
    ckpt = str(tmp_path / "ckpt")
    stored = run_pipeline(spark, docs, cfg, checkpoint_dir=ckpt, input_token="t")
    plain = run_pipeline(spark, docs, cfg)

    def rows(df, keys):
        return df.toPandas().sort_values(keys).reset_index(drop=True)

    for name, keys in (("pairs", ["a", "b"]), ("edges", ["a", "b"]),
                       ("resolved", ["doc_id"])):
        pd.testing.assert_frame_equal(
            rows(getattr(stored, name), keys), rows(getattr(plain, name), keys)
        )
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["pairs"]["hot_buckets"] > 0
    _assert_counters_describe_stages(spark, ckpt)


def test_threshold_monotonicity(spark, pages_600):
    # higher threshold -> fewer or equal duplicate edges
    sub = pages_600.head(200)
    docs = with_doc_id(
        spark.createDataFrame(sub[["url", "warc_ts", "html", "text", "lang"]]), CFG
    )
    res = run_pipeline(spark, docs, CFG, stop_after="edges")
    scored = res.edges  # already filtered at 0.7
    n_07 = scored.count()
    n_09 = scored.filter(F.col("jaccard") >= 0.9).count()
    assert n_09 <= n_07
