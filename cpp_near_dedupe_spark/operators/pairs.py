"""Candidate-pair generation: band self-join with hot-bucket skew handling.

The reference finds candidates by probing a per-band multimap and dedupes
re-reached pairs with CAS flags (`/root/reference/CPPDeduper/
LSHBandHashMap.h:360-374`, `ComparerThread.h:120-150`). The Spark-first
equivalent is a self-equi-join of the exploded bands on
``(band_id, band_key)`` with ``a < b`` plus ``dropDuplicates`` — the CAS
flag trick becomes a plain distinct *before* the expensive signature join.

Scale design (north_rule: explicit skew handling). A "hot band" — one
bucket holding h documents (boilerplate/template pages at Common-Crawl
scale) — would make the naive self-join emit h·(h−1)/2 pairs. We bound
this without silently losing the cluster:

* buckets with ≤ ``hot_band_cap`` docs: exact all-pairs (the normal path;
  AQE skew-join splits oversized shuffle partitions underneath).
* hotter buckets: all-pairs among a deterministic hash-selected "head"
  of ~cap docs, plus a *star* — every doc paired with the bucket's
  minimum doc — so the bucket stays one connected candidate group at
  O(h) extra pairs instead of O(h²). Every emitted pair is still
  Jaccard-verified downstream, so the star cannot cause false merges; it
  can only miss pairs of docs that are each dissimilar to the star
  center but similar to each other *and* collide in no other band. The
  count of over-cap buckets is recorded in the ``pairs`` checkpoint
  manifest entry (no silent truncation).

The hot path is WINDOWLESS by design: bucket statistics come from a
hash aggregation (map-side combined, no sort), the head is selected by a
value filter, and the star center rides the broadcast join — so NO task
ever sorts a degenerate bucket. An earlier formulation ranked hot
buckets with ``row_number() over (partition by band_key order by id)``;
AQE cannot split window partitions, so the guaranteed-hot classes at web
scale (boilerplate bands, the simhash fingerprint-0 class of empty docs,
all-zero embedding sign patterns) each became ONE O(h log h) window task.

Head selection uses a *portable* deterministic hash — ``((id mod P) · K)
mod n_salts`` with P = 1e9+7 and K = Knuth's multiplicative constant —
expressible identically in Spark SQL and ANSI/DuckDB SQL, so the driver
oracle (``__spark_entry__._capped_pairs_oracle``) mirrors the exact math
and the hash-equivalence stays structural. It is also layout-independent:
the same input rows always select the same head regardless of partitioning
or parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DedupeConfig

# Portable head-selection hash (see module docstring). (P-1)*K ≈ 2.65e18
# fits int64 in both Spark and DuckDB — no overflow, no HUGEINT promotion.
PORTABLE_MOD = 1_000_000_007
PORTABLE_MULT = 2_654_435_761


def portable_salt(id_expr: Column, n_salts: Column) -> Column:
    """Deterministic pseudo-random salt in [0, n_salts): true-mod-normalize
    the id into [0, P), multiply by K, reduce mod P (so LOW bits are mixed
    too — without this inner reduction ``% 2`` would collapse to id
    parity), then mod n_salts. Pure int64 column arithmetic (JVM-side,
    codegen-friendly)."""
    norm = F.pmod(F.pmod(id_expr, F.lit(PORTABLE_MOD)) + PORTABLE_MOD, PORTABLE_MOD)
    return ((norm * PORTABLE_MULT) % PORTABLE_MOD) % n_salts


def portable_salt_py(doc_id: int, n_salts: int) -> int:
    """Python twin of ``portable_salt`` for tests and oracle construction."""
    norm = (doc_id % PORTABLE_MOD + PORTABLE_MOD) % PORTABLE_MOD
    return norm * PORTABLE_MULT % PORTABLE_MOD % n_salts


def portable_salt_sql(id_sql: str, n_salts_sql: str) -> str:
    """ANSI-SQL twin of ``portable_salt`` (DuckDB oracle mirror)."""
    return (
        f"(({id_sql} % {PORTABLE_MOD} + {PORTABLE_MOD}) % {PORTABLE_MOD})"
        f" * {PORTABLE_MULT} % {PORTABLE_MOD} % ({n_salts_sql})"
    )


def bucket_stats(rows: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """(keys..., bucket_size, bucket_min) hash aggregation — map-side
    combined, no sort (a full pass over the hottest table)."""
    return rows.groupBy(*keys).agg(
        F.count("*").alias("bucket_size"), F.min(id_col).alias("bucket_min")
    )


def capped_star_pairs(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    cap: int,
) -> DataFrame:
    """Shared windowless capped+star pair topology over bucketed rows.

    ``rows``: (keys..., id) bucket membership (one row per doc per bucket).
    Output: distinct (a, b) with a < b.

    * cold buckets (size ≤ cap): exact all pairs via self-equi-join.
    * hot buckets: all pairs among the hash-selected head (expected ~cap
      rows: ``portable_salt(id, ceil(size/cap)) == 0``) plus
      (bucket_min, doc) star edges for EVERY other doc — O(h) pairs, one
      connected group, nothing dropped.

    Physical shape: one hash aggregation for the stats; the (tiny)
    hot-stats relation is persisted through the session cache registry and
    broadcast to every branch, so the aggregation over the big table runs
    ONCE (per-branch column pruning makes the broadcast subtrees
    non-identical, so Spark's ReuseExchange cannot collapse them — the
    cache is what dedupes the underlying scan); equi-joins are bounded at
    cap²/2 pairs per bucket. No window, no sort, no driver action. The
    star center (``bucket_min``) rides the broadcast join instead of a
    rank pass.
    """
    from ..cache import track

    hot = track(bucket_stats(rows, keys, id_col).filter(F.col("bucket_size") > cap))
    aug = rows.select(*keys, id_col).join(F.broadcast(hot), list(keys), "left")

    cold = aug.filter(F.col("bucket_size").isNull())
    cold_pairs = (
        cold.select(*keys, F.col(id_col).alias("a"))
        .join(cold.select(*keys, F.col(id_col).alias("b")), list(keys))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )

    hotr = aug.filter(F.col("bucket_size").isNotNull())
    n_salts = F.expr(f"div(bucket_size + {cap - 1}, {cap})")
    head = hotr.filter(portable_salt(F.col(id_col), n_salts) == 0)
    head_pairs = (
        head.select(*keys, F.col(id_col).alias("a"))
        .join(head.select(*keys, F.col(id_col).alias("b")), list(keys))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    # star edges keep over-cap buckets connected at O(h) cost; a < b holds
    # because bucket_min is the bucket minimum
    star_pairs = hotr.filter(F.col(id_col) != F.col("bucket_min")).select(
        F.col("bucket_min").alias("a"), F.col(id_col).alias("b")
    )

    return (
        cold_pairs.unionByName(head_pairs)
        .unionByName(star_pairs)
        .dropDuplicates(["a", "b"])
    )


def candidate_pairs(bands: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """(id, band_id, band_key) → distinct (a, b) with a < b.

    Physical shape: bucket stats come from a hash aggregation (map-side
    combine, no sort); hot buckets — found with a broadcast join against
    the (tiny) hot-stats list — take the windowless capped+star route
    (``capped_star_pairs``). The cold path is a plain self-equi-join that
    AQE's skew-join splitting handles.

    ``cfg.pair_topology == "chain_star"`` switches to the linear-cost
    topology (see ``_chain_star_pairs``).
    """
    if cfg.pair_topology == "chain_star":
        return _chain_star_pairs(bands, cfg)
    # the band key is already namespaced by band index (computed with
    # seed = band_id, functions/bands.py), so joining on the single long
    # key is equivalent to the composite join w.p. 1 - 2^-64 per bucket —
    # and shuffles ~30% fewer bytes through the hottest stage
    return capped_star_pairs(bands, ["band_key"], cfg.id_col, cfg.hot_band_cap)


def _chain_star_window(bands: DataFrame, id_col: str, part_cols: list[str]) -> DataFrame:
    """Chain + star pairs within each window partition (docs sorted by id):
    (predecessor, doc) chain pairs plus (partition_min, doc) star pairs —
    2 candidates per row instead of h²/2 per bucket.

    Single-pass formulation: both pair kinds are emitted from ONE window
    projection as a 2-struct array + explode. The earlier two-branch union
    re-ran the whole Window+Sort subtree (and, when the bands table was
    not cached, its entire upstream lineage incl. the sketch kernel) once
    per branch — Spark does not CSE duplicated plan subtrees. The when()
    guards reproduce the branch filters exactly: a chain struct only when
    a predecessor exists; a star struct only when the partition min is
    neither the doc itself nor already its chain predecessor (NULL prev
    makes the star condition NULL → struct NULL → filtered)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*part_cols).orderBy(F.col(id_col))
    ranked = bands.select(*part_cols, id_col).select(
        F.col(id_col),
        F.lag(id_col).over(w).alias("prev"),
        F.first(id_col).over(w).alias("bmin"),  # running first = partition min
    )
    chain_s = F.when(
        F.col("prev").isNotNull(),
        F.struct(F.col("prev").alias("a"), F.col(id_col).alias("b")),
    )
    star_s = F.when(
        (F.col("bmin") != F.col(id_col)) & (F.col("bmin") != F.col("prev")),
        F.struct(F.col("bmin").alias("a"), F.col(id_col).alias("b")),
    )
    return (
        ranked.select(F.explode(F.array(chain_s, star_s)).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )


def _chain_star_pairs(bands: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Linear-cost candidate topology: within each bucket (docs sorted by
    id) emit (predecessor, doc) chain pairs plus (bucket_min, doc) star
    pairs — 2 candidates per band row instead of h²/2 per bucket.

    Why this preserves clustering recall in practice: a bucket is a dupe
    family plus (rarely) unrelated band-colliders. The chain connects every
    contiguous id-run of family members; the star connects everything to
    the bucket min, and a true pair (A,B) co-occurs in MANY buckets (their
    sketches share most values, so many of the 64 bands match), so a miss
    requires every such bucket to have an unrelated doc as its minimum —
    probability decays geometrically with the band redundancy. Measured on
    the labeled F1 harness (BENCH/BASELINE.md); the all_pairs topology
    remains the maximal-recall reference. Every emitted pair is still
    Jaccard-verified, so precision is unaffected by construction.

    Physical shape: one window sort of the bands table (shuffle on
    band_key), no self-join, no quadratic intermediate — the dominant cost
    of all_pairs on corpora with dense duplicate families (a 500-member
    bucket emits 999 pairs here vs 125k capped pairs there).

    Skew: AQE's skew-join splitting does NOT apply to window partitions,
    so without intervention the hottest band bucket (boilerplate at web
    scale, possibly 10⁷ rows) would land in ONE window task. Buckets over
    ``hot_band_cap`` are therefore salted into ⌈h/cap⌉ sub-buckets of
    ~cap expected rows each (deterministic ``xxhash64(id) % n_salts``):
    chain+star runs per sub-bucket, and each sub-bucket minimum is linked
    to the bucket's global minimum, so the bucket stays one connected
    candidate group — still O(h) pairs total, but no window partition
    exceeds ~cap rows. Nothing is capped or dropped.

    Hot buckets are found from a deterministic 2% VALUE-filtered sample of
    the bands table (``xxhash64(id, band_key) % 50 == 0`` — layout- and
    parallelism-independent, so the same input always salts the same
    buckets), with or without a checkpoint store, so the pair set never
    depends on one. The (tiny) hot-key relation is persisted
    through the session cache registry so the sampled aggregation runs
    once across the broadcast branches.

    One plan whatever the data, and building it starts no Spark job: with
    no hot bucket every row gets salt 0 and the link aggregates are empty,
    so the pairs are exactly the plain per-bucket window's.
    """
    from ..cache import track

    id_col = cfg.id_col
    cap = cfg.hot_band_cap
    # Statistical hot detection: an exact bucket_stats pass is a full
    # hash aggregation over the hottest table in the pipeline, and it
    # exists only to find buckets worth salting — a ROUTING decision,
    # not a semantic one (salting any bucket is always correct;
    # leaving a mildly-over-cap bucket unsalted costs one window task
    # of that size, which is harmless). A 2% sample finds every bucket
    # that actually matters: a 10⁴-row bucket shows ~200 sampled rows
    # (P[miss] ≈ 0), a 10⁷-row one ~2·10⁵; only buckets within a few ×
    # of the cap are detected noisily, and those are exactly the ones
    # that don't need salting. ~50× less aggregation input than the
    # exact pass. The sample is a VALUE filter, not `DataFrame.sample`
    # — partition-layout changes cannot flip a routing decision.
    sample_mod = 50  # 2%
    hot_keys = track(
        bands.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.col("band_key")), sample_mod) == 0
        )
        .groupBy("band_key")
        .agg((F.count("*") * sample_mod).alias("bucket_size"))
        .filter(F.col("bucket_size") > cap)
    )

    # ONE broadcast left join routes every row: cold rows (the vast
    # majority) get salt 0, i.e. the plain per-bucket window; over-cap rows
    # are split into ⌈h/cap⌉ sub-buckets of ~cap expected rows. Same single
    # window pass either way — the hot machinery adds no extra shuffle of
    # the bands table, and the cached hot-key aggregate is built once
    # across the broadcast branches.
    n_salts = F.expr(f"div(bucket_size + {cap - 1}, {cap})")
    salted = (
        bands.select("band_key", id_col)
        .join(F.broadcast(hot_keys), ["band_key"], "left")
        .select(
            "band_key",
            id_col,
            F.when(F.col("bucket_size").isNull(), F.lit(0).cast("long"))
            .otherwise(F.pmod(F.xxhash64(F.col(id_col)), n_salts))
            .alias("salt"),
            F.col("bucket_size").isNotNull().alias("is_hot"),
        )
    )
    pairs = _chain_star_window(salted, id_col, ["band_key", "salt"])

    # link each hot sub-bucket minimum to its bucket's global minimum so a
    # salted bucket stays ONE connected candidate group (a < b holds: the
    # global min is ≤ every sub-bucket min). Both aggregates run on the
    # (tiny) hot subset only — empty when nothing is hot.
    hot_rows = salted.filter(F.col("is_hot"))
    sub_mins = hot_rows.groupBy("band_key", "salt").agg(F.min(id_col).alias("b"))
    g_mins = hot_rows.groupBy("band_key").agg(F.min(id_col).alias("a"))
    links = (
        sub_mins.join(g_mins, "band_key")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
    )

    return pairs.unionByName(links).dropDuplicates(["a", "b"])


def hot_bucket_stats(bands: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Per-bucket sizes above the cap (exact) — the over-cap count a
    checkpointed run records, so hot-band routing is observable, never
    silent."""
    return bucket_stats(bands, ["band_key"], cfg.id_col).filter(
        F.col("bucket_size") > cfg.hot_band_cap
    )
