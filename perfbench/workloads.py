"""The benchmark workloads.

Each workload has an untraced pass, which drives the library's public
entry points exactly as a user would and gives the end-to-end numbers, and
a traced pass, which calls each public stage function in pipeline order on
the previous stage's output and materializes every output inside the span
of the layer that defined it. Both passes must keep the same documents.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.cache import release_all, track, tracked_count
from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.operators.blocking import explode_bands
from cpp_near_dedupe_spark.operators.clustering import connected_components
from cpp_near_dedupe_spark.operators.pairs import candidate_pairs, hot_bucket_stats
from cpp_near_dedupe_spark.operators.resolve import resolve_clusters
from cpp_near_dedupe_spark.operators.scoring import score_pairs
from cpp_near_dedupe_spark.operators.sketch_op import sketch_documents
from cpp_near_dedupe_spark.plans.pipeline import run_pipeline, signature_reps
from cpp_near_dedupe_spark.plans.quality import pairwise_f1
from cpp_near_dedupe_spark.sources.pages import load_pages, with_doc_id
from cpp_near_dedupe_spark.streaming.incremental import SignatureState, dedupe_increment

from . import corpus as corpora

# hot_band_cap: the default (256) is first crossed at ~16k generated docs;
# 64 puts the dense corpus's hot-band cluster over the cap, so the salted
# hot-bucket path runs at benchmark size (chain_star drops nothing there)
CFG = DedupeConfig(id_col="doc_id", text_col="text", order_col="warc_ts", hot_band_cap=64)
SCRATCH_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out", "scratch")
F1_FLOOR = 0.99
# the pipeline has matched or beaten exact transitive clustering on every
# seed tried; the slack only absorbs a single flipped pair on small seeds
F1_SLACK = 0.001


@dataclass
class PassResult:
    batch_s: list[float]  # wall time of each dedupe call, in order
    kept_ids: np.ndarray
    resolved: pd.DataFrame | None = None  # doc_id, cluster_id, is_kept
    live_entries: int = 0  # cache registry entries after release_all()

    @property
    def wall_s(self) -> float:
        return sum(self.batch_s)


def _load(spark, path: str):
    return with_doc_id(load_pages(spark, path), CFG)


def _fresh_dir(name: str) -> str:
    path = os.path.join(SCRATCH_DIR, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _materialize(tracer, rec, df):
    """Persist ``df`` through the cache registry and count it, so lazy work
    is charged to the span that defined it and not recomputed downstream."""
    df = track(df)
    tracer.rows(rec, df.count())
    return df


def _hot_bucket_counts(tracer, bands) -> float:
    """``pairs.hot_buckets`` / ``pairs.max_bucket_rows`` from
    ``hot_bucket_stats``; returns the seconds spent, which the caller keeps
    out of the traced wall time."""
    t0 = time.perf_counter()
    row = hot_bucket_stats(bands, CFG).agg(
        F.count("*").alias("n"), F.max("bucket_size").alias("m")
    ).first()
    tracer.add("pairs.hot_buckets", row["n"])
    tracer.counts["pairs.max_bucket_rows"] = max(
        tracer.counts.get("pairs.max_bucket_rows", 0), row["m"] or 0
    )
    return time.perf_counter() - t0


def _scored_counts(tracer, scored) -> None:
    row = scored.agg(
        F.count("*").alias("n"),
        F.sum((F.col("jaccard") >= F.lit(CFG.threshold)).cast("long")).alias("hits"),
    ).first()
    tracer.add("scoring.candidates", row["n"])
    tracer.add("scoring.hits", row["hits"] or 0)


class DenseBatch:
    """One ``run_pipeline`` call (no checkpoint dir) over the dense corpus."""

    name = "dense_batch"

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def prepare(self, seed: int) -> None:
        self.corpus = corpora.dense(self.n_docs, seed)
        self.labels = corpora.oracle_labels(self.corpus, CFG.threshold)
        self.digest_key = f"{self.name}:{self.corpus.key}"

    def warm_up(self, spark) -> list[PassResult]:
        """A full pass on the fresh session (JIT, codegen, worker imports);
        its output is checked like any other pass."""
        return [self.run_pass(spark)]

    def run_pass(self, spark) -> PassResult:
        t0 = time.perf_counter()
        res = run_pipeline(spark, _load(spark, self.corpus.input_path), CFG)
        resolved = res.resolved.toPandas()
        wall = time.perf_counter() - t0
        release_all()
        return PassResult([wall], resolved.doc_id[resolved.is_kept].to_numpy(), resolved, tracked_count())

    def traced_pass(self, spark, tracer) -> tuple[PassResult, float]:
        """Returns the pass and the traced wall time (without the
        hot-bucket statistics job, which only the trace runs)."""
        id_col = CFG.id_col
        t0 = time.perf_counter()
        with tracer.span("sources") as s:
            docs = _materialize(tracer, s, _load(spark, self.corpus.input_path))
        with tracer.span("sketch") as s:
            signatures = _materialize(tracer, s, sketch_documents(docs, CFG))
        with tracer.span("sig_reps") as s:
            reps = track(signature_reps(signatures, CFG))
            n_nonempty = reps.count()
            is_rep = F.col(id_col) == F.col("rep_id")
            rep_sigs = _materialize(
                tracer, s, signatures.join(reps.filter(is_rep).select(id_col), id_col, "left_semi")
            )
        tracer.add("sig_reps.nonempty", n_nonempty)
        tracer.add("sig_reps.reps", s["rows_out"])
        with tracer.span("blocking") as s:
            bands = _materialize(tracer, s, explode_bands(rep_sigs, CFG))
        with tracer.span("pairs") as s:
            pairs = _materialize(tracer, s, candidate_pairs(bands, CFG))
        untraced_s = _hot_bucket_counts(tracer, bands)
        with tracer.span("scoring") as s:
            scored = track(score_pairs(pairs, rep_sigs, CFG))
            _scored_counts(tracer, scored)
            members = reps.filter(~is_rep).select(
                F.col(id_col).alias("a"), F.col("rep_id").alias("b"), F.lit(1.0).alias("jaccard")
            )
            edges = _materialize(
                tracer,
                s,
                scored.filter(F.col("jaccard") >= F.lit(CFG.threshold)).unionByName(members),
            )
        with tracer.span("clustering") as s:
            clusters = _materialize(
                tracer,
                s,
                connected_components(
                    edges.select("a", "b"), max_iterations=CFG.cc_max_iterations, distinct_pairs=True
                ),
            )
        with tracer.span("resolve") as s:
            resolved = resolve_clusters(docs, clusters, CFG).toPandas()
            tracer.rows(s, len(resolved))
        with tracer.span("cache") as s:
            tracer.rows(s, release_all())
        wall = time.perf_counter() - t0 - untraced_s
        kept = resolved.doc_id[resolved.is_kept].to_numpy()
        return PassResult([wall], kept, resolved, tracked_count()), wall

    def checkpointed_passes(self, spark, tracer) -> list[PassResult]:
        """A writing ``run_pipeline(checkpoint_dir=...)`` call into a fresh
        dir, then an identical call that resumes every stage."""
        ckpt = _fresh_dir("checkpoint")
        out = []
        for name in ("checkpoint.write", "checkpoint.read"):
            with tracer.span("checkpoint", name) as s:
                t0 = time.perf_counter()
                res = run_pipeline(
                    spark, _load(spark, self.corpus.input_path), CFG, checkpoint_dir=ckpt, input_token=self.corpus.key
                )
                resolved = res.resolved.toPandas()
                wall = time.perf_counter() - t0
                tracer.rows(s, len(resolved))
            release_all()
            tracer.counts[f"{name}_s"] = wall
            out.append(PassResult([wall], resolved.doc_id[resolved.is_kept].to_numpy(), resolved))
        shutil.rmtree(ckpt, ignore_errors=True)
        return out

    def check(self, spark, result: PassResult) -> list[str]:
        """Correctness misses of one pass (empty when it is correct). The F1
        gate is ``F1_FLOOR``, lowered on a seed whose chains hold even exact
        transitive clustering below it to that clustering's F1 (less
        ``F1_SLACK``)."""
        lab = self.labelled(spark, result)
        misses = _kept_set_misses(lab)
        f1 = self.f1(lab)
        floor = min(F1_FLOOR, self.labels.exact_f1 - F1_SLACK)
        if f1 < floor:
            misses.append(f"f1 {f1:.4f} < {floor:.4f} (exact clustering: {self.labels.exact_f1:.4f})")
        return misses

    def labelled(self, spark, result: PassResult) -> pd.DataFrame:
        """The corpus labels, in input row order, with one pass's
        ``cluster_id`` and ``is_kept``."""
        lab = self.corpus.labels.assign(doc_id=_row_ids(spark, self.corpus))
        return lab.merge(result.resolved, on="doc_id", how="left")

    def f1(self, lab: pd.DataFrame) -> float:
        """Pairwise F1 at matched band keys against the oracle labels."""
        cluster = lab.cluster_id.to_numpy()
        same = lambda i, j: cluster[i] == cluster[j]  # noqa: E731
        return pairwise_f1(self.labels.pairs, self.labels.jaccard, same, CFG.threshold).f1


class IncrementalCrawl:
    """The dense corpus in equal consecutive ``warc_ts`` batches, each
    through ``dedupe_increment`` against one growing ``SignatureState``."""

    name = "incremental_crawl"

    def __init__(self, n_docs: int, n_batches: int):
        self.n_docs = n_docs
        self.n_batches = n_batches

    def prepare(self, seed: int) -> None:
        self.corpus = corpora.dense(self.n_docs, seed)
        self.paths = corpora.batch_paths(self.corpus, self.n_batches)
        self.warm_paths = corpora.batch_paths(self.corpus, 2, head_rows=CRAWL_WARM_ROWS)
        self.digest_key = f"{self.name}:{self.corpus.key}:{self.n_batches}"

    def warm_up(self, spark) -> list[PassResult]:
        """A crawl over two small batches cut from the corpus head: warms
        both the empty-state and the against-state paths at a fraction of
        a full crawl's cost. Its kept set is partial, so it is not checked."""
        self.run_pass(spark, self.warm_paths)
        return []

    def run_pass(self, spark, paths: list[str] | None = None) -> PassResult:
        """One crawl over the batches, starting from an empty state."""
        state = SignatureState(spark, _fresh_dir("state"))
        walls, kept = [], []
        for path in paths or self.paths:
            t0 = time.perf_counter()
            survivors = dedupe_increment(spark, _load(spark, path), state, CFG)
            kept.append(survivors.select(CFG.id_col).toPandas()[CFG.id_col].to_numpy())
            release_all()
            walls.append(time.perf_counter() - t0)
        shutil.rmtree(state.root, ignore_errors=True)
        return PassResult(walls, np.concatenate(kept), None, tracked_count())

    def traced_pass(self, spark, tracer) -> tuple[PassResult, float]:
        """``dedupe_increment`` (default mode, parity family) stage by
        stage; the digest check pins it to the untraced pass."""
        id_col = CFG.id_col
        state = SignatureState(spark, _fresh_dir("state"))
        walls, kept, untraced_s = [], [], 0.0
        for i, path in enumerate(self.paths):
            t0 = time.perf_counter()
            with tracer.span("sources", f"sources.batch{i}") as s:
                new_docs = _materialize(tracer, s, _load(spark, path))
            with tracer.span("sketch", f"sketch.batch{i}") as s:
                sigs_new = _materialize(tracer, s, sketch_documents(new_docs, CFG))
            with tracer.span("blocking", f"blocking.batch{i}") as s:
                bands_new = _materialize(tracer, s, explode_bands(sigs_new, CFG))
            with tracer.span("pairs", f"pairs.batch{i}") as s:
                pairs_in = _materialize(tracer, s, candidate_pairs(bands_new, CFG))
            stats_s = _hot_bucket_counts(tracer, bands_new)
            with tracer.span("scoring", f"scoring.batch{i}") as s:
                scored = track(score_pairs(pairs_in, sigs_new, CFG))
                _scored_counts(tracer, scored)
                edges_in = _materialize(
                    tracer, s, scored.filter(F.col("jaccard") >= F.lit(CFG.threshold))
                )
            with tracer.span("clustering", f"clustering.batch{i}") as s:
                clusters = _materialize(
                    tracer,
                    s,
                    connected_components(
                        edges_in.select("a", "b"), CFG.cc_max_iterations, distinct_pairs=True
                    ),
                )
            with tracer.span("resolve", f"resolve.batch{i}") as s:
                resolved = resolve_clusters(new_docs, clusters, CFG)
                kept_ids = _materialize(tracer, s, resolved.filter(F.col("is_kept")).select(id_col))
            with tracer.span("state", f"state.batch{i}") as s:
                survivor_ids = self._against_state(spark, state, sigs_new, bands_new, kept_ids)
                state.append(
                    sigs_new.join(survivor_ids, id_col, "left_semi"),
                    bands_new.join(survivor_ids, id_col, "left_semi"),
                )
                ids = new_docs.join(survivor_ids, id_col, "left_semi").select(id_col).toPandas()
                tracer.rows(s, len(ids))
            stats_s += self._state_counts(tracer, state)
            with tracer.span("cache", f"cache.batch{i}") as s:
                tracer.rows(s, release_all())
            kept.append(ids[id_col].to_numpy())
            walls.append(time.perf_counter() - t0 - stats_s)
            untraced_s += stats_s
        shutil.rmtree(state.root, ignore_errors=True)
        return PassResult(walls, np.concatenate(kept), None, tracked_count()), sum(walls)

    @staticmethod
    def _against_state(spark, state, sigs_new, bands_new, kept_ids):
        """Batch survivors minus the ones matching retained state — the
        state step of ``dedupe_increment``'s default mode."""
        id_col = CFG.id_col
        if not state.exists():
            return kept_ids
        sigs_kept = sigs_new.join(kept_ids, id_col, "left_semi")
        bands_kept = bands_new.join(kept_ids, id_col, "left_semi")
        cand = (
            bands_kept.select("band_id", "band_key", F.col(id_col).alias("a"))
            .join(
                state.bands().select("band_id", "band_key", F.col(id_col).alias("b")),
                ["band_id", "band_key"],
            )
            .filter(F.col("a") != F.col("b"))
            .select("a", "b")
            .distinct()
        )
        all_sigs = sigs_kept.unionByName(state.signatures().select(sigs_kept.columns))
        matches = score_pairs(cand, all_sigs, CFG).filter(F.col("jaccard") >= F.lit(CFG.threshold))
        dup_ids = matches.select(F.col("a").alias(id_col)).distinct()
        survivors = track(kept_ids.join(dup_ids, id_col, "left_anti"))
        survivors.count()
        return survivors

    @staticmethod
    def _state_counts(tracer, state) -> float:
        """``state.rows`` / ``state.files`` after a batch, from the parquet
        footers (no Spark job); returns the seconds spent."""
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        files = glob.glob(os.path.join(state.sig_path, "*.parquet")) + glob.glob(
            os.path.join(state.bands_path, "*.parquet")
        )
        sig_files = [f for f in files if f.startswith(state.sig_path + os.sep)]
        tracer.counts["state.rows"] = sum(pq.ParquetFile(f).metadata.num_rows for f in sig_files)
        tracer.counts["state.files"] = len(files)
        return time.perf_counter() - t0

    def check(self, spark, result: PassResult) -> list[str]:
        """Correctness misses of one crawl (empty when it is correct)."""
        kept = result.kept_ids
        lab = self.corpus.labels.assign(is_kept=np.isin(_row_ids(spark, self.corpus), kept))
        misses = _kept_set_misses(lab)
        if len(np.unique(kept)) != len(kept):
            misses.append("a document was kept by two batches")
        return misses


def _row_ids(spark, corpus: corpora.Corpus) -> np.ndarray:
    """The pipeline's ``doc_id`` of every corpus row, in input row order
    (one small Spark job, once per corpus)."""
    if corpus.row_ids is None:
        ids = _load(spark, corpus.input_path).select("url", CFG.id_col).toPandas()
        corpus.row_ids = corpus.labels.merge(ids, on="url", how="left")[CFG.id_col].to_numpy()
    return corpus.row_ids


def _kept_set_misses(lab: pd.DataFrame) -> list[str]:
    """Checks any kept set of the generated corpus must pass: no
    ``unique`` document is dropped, and no exact-duplicate group keeps more
    than one copy."""
    misses = []
    unique_dropped = int(((lab.kind == "unique") & ~lab.is_kept.astype(bool)).sum())
    if unique_dropped:
        misses.append(f"{unique_dropped} unique documents dropped")
    exact = lab[lab.kind.isin(["exact", "edge_same_text"])]
    over = int((exact.groupby("group_id").is_kept.sum() > 1).sum())
    if over:
        misses.append(f"{over} exact-duplicate groups keep more than one document")
    return misses


# Corpus size and batch count: see perfbench/README.md.
DENSE_DOCS = 6_000
CRAWL_BATCHES = 3
CRAWL_WARM_ROWS = 600

WORKLOADS = {
    "dense_batch": lambda: DenseBatch(DENSE_DOCS),
    "incremental_crawl": lambda: IncrementalCrawl(DENSE_DOCS, CRAWL_BATCHES),
}


def warm_workers(spark, cores: int) -> None:
    """Fork every Python worker and import the library's kernels in it."""

    def noop(batches):
        import cpp_near_dedupe_spark.functions.jaccard  # noqa: F401
        import cpp_near_dedupe_spark.functions.sketch  # noqa: F401

        yield from batches

    (
        spark.range(0, cores * 10, 1, cores)
        .toDF("id")
        .mapInPandas(noop, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def median(values) -> float:
    return float(statistics.median(values))
