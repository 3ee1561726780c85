"""Scale-path regression pins for the two 100×-skew soft spots fixed in r3:

1. chain_star's window salting — one degenerate band key (boilerplate at
   web scale) must not land in a single window task (AQE does NOT split
   window partitions), while the bucket stays one connected candidate
   group with O(h) pairs.
2. the identical-sketch collapse bound — a mega exact-dupe family must
   never materialize as one row: the fingerprint formulation aggregates
   min-only and joins members back, and must equal grouping on the exact
   signature arrays.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.operators.pairs import candidate_pairs
from cpp_near_dedupe_spark.plans.pipeline import signature_reps

CFG = DedupeConfig(id_col="doc_id", text_col="text")


def _union_find_components(pairs, ids):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {i: find(i) for i in ids}


@pytest.fixture(scope="module")
def hot_bands(spark):
    # one degenerate bucket of 10,000 docs plus a handful of cold buckets
    hot = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        F.lit("HOTKEY").alias("band_key"),
    )
    cold = spark.range(10_000, 10_020).select(
        F.col("id").alias("doc_id"),
        F.lit(1).alias("band_id"),
        F.concat(F.lit("cold_"), (F.col("id") % 5).cast("string")).alias("band_key"),
    )
    return hot.unionByName(cold)


def test_chain_star_hot_bucket_is_salted_but_connected(spark, hot_bands):
    cfg = DedupeConfig(id_col="doc_id", hot_band_cap=256)
    pairs = candidate_pairs(hot_bands, cfg).toPandas()
    h = 10_000
    # linear cost: chain + star within sub-buckets + sub-min links,
    # never anywhere near h^2/2
    assert len(pairs) <= 3 * (h + 20)
    # the bucket was NOT processed as one ordered run: a single-task window
    # would chain every consecutive id; salting must break that
    pair_set = set(zip(pairs.a, pairs.b))
    consecutive = sum((i, i + 1) in pair_set for i in range(h - 1))
    assert consecutive < h - 1, "hot bucket ran as a single window partition"
    # ...while staying ONE connected candidate group (nothing dropped)
    hot_pairs = {(a, b) for a, b in pair_set if b < h}
    comp = _union_find_components(hot_pairs, range(h))
    assert len(set(comp.values())) == 1
    # cold buckets are untouched by the hot machinery: plain chain+star
    cold_pairs = {(a, b) for a, b in pair_set if a >= h}
    for i in range(5):
        members = sorted(range(10_000 + i, 10_020, 5))
        for x, y in zip(members, members[1:]):
            assert (x, y) in cold_pairs


def test_chain_star_salting_matches_unsalted_connectivity(spark, hot_bands):
    # raising the cap above the bucket size disables salting; both variants
    # must produce the same connected components over the same bucket
    lo = candidate_pairs(hot_bands, DedupeConfig(id_col="doc_id", hot_band_cap=100))
    hi = candidate_pairs(
        hot_bands, DedupeConfig(id_col="doc_id", hot_band_cap=1_000_000)
    )
    ids = range(10_020)
    comp_lo = _union_find_components(
        set(map(tuple, lo.toPandas().values)), ids
    )
    comp_hi = _union_find_components(
        set(map(tuple, hi.toPandas().values)), ids
    )
    group = lambda c: sorted(
        tuple(sorted(k for k, v in c.items() if v == r)) for r in set(c.values())
    )
    assert group(comp_lo) == group(comp_hi)


@pytest.fixture(scope="module")
def family_sigs(spark):
    # 100k-member exact-dupe family + 50 singletons, as sketch output
    fam = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.lit(2).alias("sig_len"),
        F.array(F.lit("f1"), F.lit("f2")).alias("signature"),
    )
    singles = spark.range(100_000, 100_050).select(
        F.col("id").alias("doc_id"),
        F.lit(2).alias("sig_len"),
        F.array(F.concat(F.lit("s"), F.col("id").cast("string")), F.lit("z")).alias(
            "signature"
        ),
    )
    return fam.unionByName(singles)


def test_signature_reps_mega_family_bounded(spark, family_sigs):
    # a 100k-member family must map every member to the family minimum
    # without ever materializing a per-family row (the fingerprint
    # formulation aggregates min-only and joins back: fixed-width rows)
    cfg = DedupeConfig(id_col="doc_id")
    reps = signature_reps(family_sigs, cfg)
    agg = reps.groupBy("rep_id").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    rows = {r.rep_id: r for r in agg.collect()}
    assert rows[0].n == 100_000 and rows[0].lo == 0 and rows[0].hi == 99_999
    for rid in range(100_000, 100_050):
        assert rows[rid].n == 1


def test_signature_reps_matches_exact_array_grouping(spark):
    # the 96-bit fingerprint grouping must equal grouping on the signature
    # arrays themselves (pandas oracle) on a corpus with many distinct
    # sketches and shared ones
    rows = []
    for i in range(2_000):
        sig = [f"h{i % 300}", f"g{(i * 7) % 300}"]  # 300-ish families
        rows.append((i, 2, sig))
    sigs = spark.createDataFrame(
        rows, "doc_id long, sig_len int, signature array<string>"
    )
    got = (
        signature_reps(sigs, CFG).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pdf = pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "key": [tuple(r[2]) for r in rows]}
    )
    pdf["rep_id"] = pdf.groupby("key")["doc_id"].transform("min")
    exp = pdf[["doc_id", "rep_id"]].sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)


def test_signature_reps_empty_sketches_excluded(spark):
    sigs = spark.createDataFrame(
        [(1, 0, []), (2, 1, ["a"]), (3, 1, ["a"])],
        "doc_id long, sig_len int, signature array<string>",
    )
    out = signature_reps(sigs, CFG).toPandas().sort_values("doc_id")
    assert out.doc_id.tolist() == [2, 3]
    assert out.rep_id.tolist() == [2, 2]


# ---------------------------------------------------------------------------
# r4: the capped+star hot paths are WINDOWLESS — a degenerate bucket (the
# simhash fingerprint-0 class, an all-zero embedding sign pattern, a
# boilerplate band) must never be ranked in one O(h log h) window task.
# The plan-level pin: NO Window node anywhere in the physical plan, and the
# emitted pair count stays linear in the bucket overflow.
# ---------------------------------------------------------------------------


def _physical_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_all_pairs_hot_path_has_no_window(spark, hot_bands):
    cfg = DedupeConfig(id_col="doc_id", hot_band_cap=256, pair_topology="all_pairs")
    pairs = candidate_pairs(hot_bands, cfg)
    assert "Window" not in _physical_plan(pairs)
    pdf = pairs.toPandas()
    h = 10_000
    # head ~cap rows -> head pairs ~cap^2/2; star = h-1: linear, never h^2/2
    assert len(pdf) < h + 300 * 300
    comp = _union_find_components(
        {(a, b) for a, b in zip(pdf.a, pdf.b) if b < h}, range(h)
    )
    assert len(set(comp.values())) == 1


def test_simhash_hot_class_windowless_and_linear(spark):
    """600 empty-text docs all share fingerprint 0 — the guaranteed hot
    class at web scale. The pair plan must contain no Window node and emit
    O(h) pairs while keeping the class one connected group."""
    from cpp_near_dedupe_spark.operators.simhash import simhash_candidate_pairs

    n = 600
    docs = spark.createDataFrame(
        [(i, "") for i in range(n)], "doc_id long, text string"
    )
    pairs = simhash_candidate_pairs(docs, 3, hot_bucket_cap=64)
    assert "Window" not in _physical_plan(pairs)
    pdf = pairs.toPandas()
    assert len(pdf) < n * n // 20  # linear-ish, nowhere near h^2/2
    comp = _union_find_components(set(zip(pdf.a, pdf.b)), range(n))
    assert len(set(comp.values())) == 1


def test_embedding_lsh_hot_bucket_windowless(spark):
    from cpp_near_dedupe_spark.operators.embedding_ann import cosine_dupe_pairs_lsh
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal(64)
    rows = [
        (i, [float(x) for x in base + 1e-4 * rng.standard_normal(64)])
        for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = cosine_dupe_pairs_lsh(emb, threshold=0.99, hot_bucket_cap=64)
    assert "Window" not in _physical_plan(pairs)


def test_ann_probe_candidates_windowless(spark):
    """r5 (VERDICT r4 #1): lsh_topk's capped probe relation must contain
    no Window node — bucket stats via hash agg, head via value filter,
    queries via broadcast join. The only windows in the full lsh_topk
    plan are the bounded two-phase rank (phase-2 ≤ n_salts·k rows per
    query), downstream of the already-capped candidates."""
    from cpp_near_dedupe_spark.cache import release_all, track
    from cpp_near_dedupe_spark.operators.embedding_ann import (
        _capped_probe_candidates,
        hyperplane_buckets,
    )

    emb = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).cast("array<float>").alias("embedding"),
    )
    buckets = track(hyperplane_buckets(emb, n_planes=8, dim=8, n_tables=2))
    q_buckets = buckets.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "table", "bucket"
    )
    cand = _capped_probe_candidates(buckets, q_buckets, "vec_id", 64)
    assert "Window" not in _physical_plan(cand)
    release_all()


def test_capped_star_head_is_proper_hash_subset(spark):
    """The hash-selected head of an over-cap bucket is a proper, value-
    deterministic subset — the same rows regardless of partitioning."""
    from cpp_near_dedupe_spark.operators.pairs import (
        capped_star_pairs,
        portable_salt_py,
    )

    n, cap = 1000, 64
    rows = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("K").alias("band_key")
    )
    for parts in (2, 16):
        got = {
            (r.a, r.b)
            for r in capped_star_pairs(
                rows.repartition(parts), ["band_key"], "doc_id", cap
            ).collect()
        }
        ns = (n + cap - 1) // cap
        head = [i for i in range(n) if portable_salt_py(i, ns) == 0]
        assert 0 < len(head) < 3 * cap
        expected = {(a, b) for a in head for b in head if a < b} | {
            (0, j) for j in range(1, n)
        }
        assert got == expected  # identical at BOTH parallelism levels
