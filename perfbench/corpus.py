"""Benchmark inputs: generated corpora, oracle labels and kept-set digests.

Everything is cached under ``perfbench/cache/`` keyed by (corpus, docs,
seed), so a seed's corpus is generated and labelled once per checkout and
every later run with that seed reuses it. All of this is set-up work and
stays outside every metric.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cache")
INPUT_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
# small row groups: Spark splits a file only at row-group boundaries, so a
# file of few groups would put the scan (and everything fused into it) on
# fewer tasks than cores; 250 rows gives every crawl batch 6+ groups
ROW_GROUP_SIZE = 250


@dataclass
class Corpus:
    name: str
    n_docs: int
    seed: int
    input_path: str
    labels: pd.DataFrame  # url, group_id, kind in input row order
    row_ids: np.ndarray | None = None  # the pipeline's doc_id per row, once known

    @property
    def key(self) -> str:
        return f"{self.name}_{self.n_docs}_{self.seed}"


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, row_group_size=ROW_GROUP_SIZE, index=False)
    os.replace(tmp, path)


def _load_or_generate(name: str, n_docs: int, seed: int, rows) -> Corpus:
    """``rows(pages) -> pages`` picks the corpus rows from the generator
    output; the result is cached as an input file plus a label file."""
    key = f"{name}_{n_docs}_{seed}"
    input_path = os.path.join(CACHE_DIR, f"{key}.parquet")
    labels_path = os.path.join(CACHE_DIR, f"{key}.labels.parquet")
    if not (os.path.exists(input_path) and os.path.exists(labels_path)):
        from cpp_near_dedupe_spark.sources.datagen import generate_pages

        os.makedirs(CACHE_DIR, exist_ok=True)
        pages = rows(generate_pages, seed).reset_index(drop=True)
        _write_parquet(pages[INPUT_COLUMNS], input_path)
        _write_parquet(pages[["url", "group_id", "kind"]], labels_path)
    return Corpus(name, n_docs, seed, input_path, pd.read_parquet(labels_path))


def dense(n_docs: int, seed: int) -> Corpus:
    """The full generator mix, rows in ``warc_ts`` order."""
    return _load_or_generate(
        "dense",
        n_docs,
        seed,
        lambda gen, s: gen(n_docs, seed=s).sort_values("warc_ts", kind="stable"),
    )


def batch_paths(corpus: Corpus, n_batches: int, head_rows: int | None = None) -> list[str]:
    """The corpus (or its first ``head_rows`` rows) cut into equal
    consecutive ``warc_ts`` batches, one file each (cached beside the
    corpus)."""
    head = f"h{head_rows}" if head_rows else ""
    paths = [
        os.path.join(CACHE_DIR, f"{corpus.key}.batch{i}of{n_batches}{head}.parquet")
        for i in range(n_batches)
    ]
    if not all(os.path.exists(p) for p in paths):
        pages = pd.read_parquet(corpus.input_path)[:head_rows]
        for p, idx in zip(paths, np.array_split(np.arange(len(pages)), n_batches)):
            _write_parquet(pages.iloc[idx], p)
    return paths


@dataclass
class Oracle:
    """The labelled pairs of a corpus (``plans.quality.oracle_labeled_pairs``:
    every row-index pair sharing a band key, with its exact sketch Jaccard)
    and ``exact_f1``: the pairwise F1 that exact transitive clustering over
    the pairs at or above the threshold reaches. Chains make that clustering
    merge sub-threshold pairs, so ``exact_f1`` is below 1 by a seed-dependent
    amount (SURVEY.md §7.3)."""

    pairs: list[tuple[int, int]]
    jaccard: np.ndarray
    exact_f1: float


def oracle_labels(corpus: Corpus, threshold: float) -> Oracle:
    path = os.path.join(CACHE_DIR, f"{corpus.key}.oracle_{threshold}.npz")
    if not os.path.exists(path):
        from cpp_near_dedupe_spark.plans.quality import (
            oracle_labeled_pairs,
            pairwise_f1,
            union_find_clusters,
        )

        texts = pd.read_parquet(corpus.input_path, columns=["text"]).text.tolist()
        pairs, jac, _ = oracle_labeled_pairs(texts, threshold)
        jac = np.asarray(jac, dtype=np.float64)
        cluster = union_find_clusters(len(texts), [p for p, j in zip(pairs, jac) if j >= threshold])
        exact = pairwise_f1(pairs, jac, lambda i, j: cluster[i] == cluster[j], threshold)
        tmp = path + ".tmp.npz"
        np.savez(
            tmp,
            pairs=np.asarray(pairs, dtype=np.int64).reshape(-1, 2),
            jaccard=jac,
            exact_f1=exact.f1,
        )
        os.replace(tmp, path)
    with np.load(path) as z:
        pairs = [tuple(p) for p in z["pairs"].tolist()]
        return Oracle(pairs, z["jaccard"], float(z["exact_f1"]))


def kept_digest(kept_ids: np.ndarray) -> str:
    """xor of XXH64 over the kept ids: order-free, so any two runs that
    keep the same set print the same digest."""
    from cpp_near_dedupe_spark.functions.xxh64 import xxh64_u64_rows

    ids = np.ascontiguousarray(kept_ids, dtype=np.int64).view(np.uint64)
    if ids.size == 0:
        return "0" * 16
    h = np.bitwise_xor.reduce(xxh64_u64_rows(ids.reshape(-1, 1)))
    return f"{int(h):016x}"


def recorded_digest(key: str, digest: str) -> str:
    """The digest first recorded for ``key`` in this checkout; records
    ``digest`` when there is none yet."""
    path = os.path.join(CACHE_DIR, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key not in seen:
        seen[key] = digest
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return seen[key]
