"""Record-linkage (entity resolution) over structured records.

The reference pipeline resolves *document* identity by content sketches
(`/root/reference/CPPDeduper/ComparerThread.h`); this module is the
record-linkage face of the same blocking → pairwise-scoring → transitive-
clustering architecture (the north-star category is entity_resolution):

  1. **multi-key blocking** — several cheap deterministic keys per record
     (name prefix, exact phone); union of key passes gives recall
     redundancy the way multi-band LSH does for documents;
  2. **candidate generation** — within-block pairs through the shared
     windowless capped+star topology (operators/pairs.py), so one hot
     block (a default phone, an empty name) costs O(h) pairs, not O(h²);
  3. **pairwise scoring** — Jaro-Winkler on names (Arrow-batched kernel,
     functions/jaro_winkler.py) blended with exact-match evidence on
     phone/nation into one score in [0, 1];
  4. **match + transitive clustering** — threshold, then the same
     large-star/small-star connected components used for document dupes
     (operators/clustering.py);
  5. **golden records** — one canonical survivor row per entity cluster
     (min rec_id representative, max balance), the ER analogue of the
     dedupe keep-first rewrite (operators/resolve.py).

Every step is either pure built-in Spark SQL expressions or the existing
Arrow-batched JW kernel — no per-row Python. All joins key on block_key /
rec_id; the only shuffles are the block-key self-join and, above the CC
edge cap, the CC star rounds.

Dirty-records fixture
---------------------
The driver's `customer` table is clean (TPC-H-style, zero duplicates), so
an ER run over it would be vacuous. `dirty_customer_records` derives a
deterministic messy corpus from it *inside the query* with expressions
that exist identically in Spark SQL and DuckDB (md5 / translate / substr /
concat / lpad), so the DuckDB oracle can rebuild the exact same corpus:

* every customer becomes a base record whose `name` is a pseudo-random
  12-letter string (`translate(substr(md5(key),1,12), digits→letters)`) —
  hex-derived so names of *different* entities are dissimilar (measured
  same-block JW max ≈ 0.84) while typo'd copies stay close (JW ≥ 0.91);
* every 7th customer gains a copy with a character dropped from its name
  (same phone → caught by both blocking passes);
* every 13th customer gains a copy with two name characters swapped and a
  mistyped phone (caught by the name-prefix pass only);
* customers divisible by both get a 3-member entity, so transitive
  clustering is exercised (A-copy ~ base ~ B-copy).

Ground truth rides along as ``entity_id`` (= source c_custkey): tests
measure pairwise precision/recall against it; the driver queries drop it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import connected_components
from .pairs import capped_star_pairs
from .string_sim import jaro_winkler_score

# score blend: names carry most of the evidence; exact phone / nation
# matches are corroboration. Fixture separation at these weights:
# true dupes score >= 0.886, best non-dupe <= 0.774 (threshold 0.85).
JW_WEIGHT = 0.8
PHONE_WEIGHT = 0.1
NATION_WEIGHT = 0.1
DEFAULT_THRESHOLD = 0.85
DEFAULT_BLOCK_CAP = 256


def dirty_customer_records(customers: DataFrame) -> DataFrame:
    """customer → (rec_id, entity_id, name, phone, nation, segment, bal).

    Deterministic; mirrored expression-for-expression by the DuckDB oracle
    (__spark_entry__.oracle_sql `er_*`). rec_id = 10·custkey + variant so
    base/variant ids interleave per entity and `min(rec_id)` returns the
    base record as the cluster representative.
    """
    key_str = F.col("c_custkey").cast("string")
    name = F.translate(
        F.substring(F.md5(key_str), 1, 12), "0123456789", "ghijklmnop"
    )
    base = customers.select(
        (F.col("c_custkey") * 10).alias("rec_id"),
        F.col("c_custkey").alias("entity_id"),
        name.alias("name"),
        F.lpad(key_str, 9, "0").alias("phone"),
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal"), 2).alias("bal"),
    )
    # variant A (every 7th): name char 4 dropped, phone intact, bal -1
    var_a = base.filter(F.col("entity_id") % 7 == 0).select(
        (F.col("rec_id") + 1).alias("rec_id"),
        "entity_id",
        F.concat(
            F.substring("name", 1, 3), F.substring("name", 5, 12)
        ).alias("name"),
        "phone",
        "nation",
        "segment",
        F.round(F.col("bal") - 1.0, 2).alias("bal"),
    )
    # variant B (every 13th): name chars 9/10 swapped, phone first digit
    # mistyped ('9'), bal -2
    var_b = base.filter(F.col("entity_id") % 13 == 0).select(
        (F.col("rec_id") + 2).alias("rec_id"),
        "entity_id",
        F.concat(
            F.substring("name", 1, 8),
            F.substring("name", 10, 1),
            F.substring("name", 9, 1),
            F.substring("name", 11, 2),
        ).alias("name"),
        F.concat(F.lit("9"), F.substring("phone", 2, 8)).alias("phone"),
        "nation",
        "segment",
        F.round(F.col("bal") - 2.0, 2).alias("bal"),
    )
    return base.unionByName(var_a).unionByName(var_b)


def er_block_keys(records: DataFrame) -> DataFrame:
    """records → (block_key, rec_id): two blocking passes, unioned.

    * ``nm:`` + first 2 name chars — survives every fixture perturbation
      (both touch positions ≥ 4); 256 possible keys over the hex-derived
      alphabet, so blocks carry true negatives for scoring to reject;
    * ``ph:`` + exact phone — high-precision pass, catches same-phone
      copies regardless of name damage.

    Keys are namespaced strings so the union is one (block_key, rec_id)
    relation and downstream pair generation / hot-block capping treats
    both passes uniformly (exactly like multi-band LSH band keys).
    """
    nm = records.select(
        F.concat(F.lit("nm:"), F.substring("name", 1, 2)).alias("block_key"),
        "rec_id",
    )
    ph = records.select(
        F.concat(F.lit("ph:"), F.col("phone")).alias("block_key"), "rec_id"
    )
    return nm.unionByName(ph)


def er_candidate_pairs(
    records: DataFrame, cap: int = DEFAULT_BLOCK_CAP
) -> DataFrame:
    """Within-block candidate pairs (a, b), a < b, distinct across blocks.

    Routed through the shared windowless capped+star topology: blocks at
    or under ``cap`` get exact all-pairs; a degenerate hot block (shared
    default phone, empty-name prefix) degrades to O(h) star + capped head
    instead of O(h²) — same scale contract as LSH band buckets
    (operators/pairs.py:98). Scoring rejects the star edges' false pairs,
    so the cap costs recall only for dupes whose EVERY block is hot;
    the multi-key union makes that conjunction unlikely, mirroring the
    multi-band recall argument.
    """
    return capped_star_pairs(
        er_block_keys(records), ["block_key"], "rec_id", cap
    )


def er_score_pairs(records: DataFrame, pairs: DataFrame) -> DataFrame:
    """(a, b) → (a, b, jw, score): field-wise evidence blended to [0, 1].

    Two equi-joins attach the field tuples (records is one slim row per
    rec_id — at cluster scale bucket it by rec_id so the big pair side
    co-partitions); JW runs in the Arrow-batched kernel; the blend and
    rounding are plain codegen'd expressions. Rounding discipline: jw to
    6dp first, then the blend to 6dp, mirrored in the oracle so the
    float path is bit-identical.
    """
    lhs = records.select(
        F.col("rec_id").alias("a"),
        F.col("name").alias("name_a"),
        F.col("phone").alias("phone_a"),
        F.col("nation").alias("nation_a"),
    )
    rhs = records.select(
        F.col("rec_id").alias("b"),
        F.col("name").alias("name_b"),
        F.col("phone").alias("phone_b"),
        F.col("nation").alias("nation_b"),
    )
    joined = pairs.join(lhs, "a").join(rhs, "b")
    scored = jaro_winkler_score(joined, "name_a", "name_b")
    score = F.round(
        F.col("jw") * JW_WEIGHT
        + (F.col("phone_a") == F.col("phone_b")).cast("double") * PHONE_WEIGHT
        + (F.col("nation_a") == F.col("nation_b")).cast("double")
        * NATION_WEIGHT,
        6,
    )
    return scored.select("a", "b", "jw", score.alias("score"))


def er_matches(
    records: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    cap: int = DEFAULT_BLOCK_CAP,
) -> DataFrame:
    """(a, b, jw, score) for pairs at or above the match threshold."""
    pairs = er_candidate_pairs(records, cap)
    return er_score_pairs(records, pairs).filter(F.col("score") >= threshold)


def er_clusters(
    records: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    cap: int = DEFAULT_BLOCK_CAP,
) -> DataFrame:
    """(rec_id, cluster_id) for EVERY record; singletons map to
    themselves. cluster_id = min rec_id of the entity's component
    (= the base record, by rec_id construction)."""
    # distinct_pairs: er_candidate_pairs ends in dropDuplicates and the
    # scoring joins are 1:1 per pair, so the match edges are already
    # distinct as sets — skips CC's canonicalizing dedup shuffle (r6)
    edges = er_matches(records, threshold, cap).select("a", "b")
    cc = connected_components(edges, distinct_pairs=True)
    return (
        records.select("rec_id")
        .join(cc.withColumnRenamed("id", "rec_id"), "rec_id", "left")
        .select(
            "rec_id",
            F.coalesce("cluster_id", "rec_id").alias("cluster_id"),
        )
    )


def er_golden_records(
    records: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    cap: int = DEFAULT_BLOCK_CAP,
) -> DataFrame:
    """One canonical row per entity cluster (the ER analogue of the
    dedupe rewrite): representative = min rec_id (the base record),
    survivor fields from the representative, best-evidence aggregates
    (max balance) from the whole cluster. Hash-aggregation + one
    broadcast-sized join back to the slim records relation — no window.
    """
    clusters = er_clusters(records, threshold, cap)
    # single-pass survivorship (r6): membership count, representative id
    # and best-evidence balance come from ONE join + ONE hash aggregation
    # (the records join is 1:1 per membership row, so count(*) is still
    # the member count) — the earlier two-branch formulation re-derived
    # the cluster relation and shuffled it twice
    agg = (
        clusters.join(records.select("rec_id", "bal"), "rec_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("rec_id").alias("rep_id"),
            F.round(F.max("bal"), 2).alias("max_bal"),
        )
    )
    rep = records.select(
        F.col("rec_id").alias("rep_id"),
        F.col("name").alias("rep_name"),
        F.col("phone").alias("rep_phone"),
        F.col("segment").alias("rep_segment"),
    )
    return (
        agg.join(rep, "rep_id")
        .select(
            "cluster_id",
            "rep_id",
            "n_members",
            "rep_name",
            "rep_phone",
            "rep_segment",
            "max_bal",
        )
    )


DEFAULT_SN_WINDOW = 8


def er_sn_pairs(records: DataFrame, window: int = DEFAULT_SN_WINDOW) -> DataFrame:
    """Sorted-neighborhood candidate pairs (a, b) over the name sort order
    (Hernández & Stolfo 1995) — the classic complement to the equi-key
    blocking passes: key blocking misses dupes whose keys disagree, sort
    adjacency catches any damage that preserves the sort prefix. The rank
    and pair generation are the distributed, windowless formulation in
    operators/sorted_neighborhood.py; recall against the fixture's ground
    truth is measured in tests/test_linkage_extras.py."""
    from .sorted_neighborhood import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        records.select("rec_id", "name"), ["name"], "rec_id", window
    )


def er_sn_matches(
    records: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    window: int = DEFAULT_SN_WINDOW,
) -> DataFrame:
    """Sorted-neighborhood blocking + the shared pairwise score blend +
    threshold: the end-to-end ER match set under the alternative blocking
    strategy. Same scoring/threshold as ``er_matches``, so the two match
    sets are directly comparable (key blocking vs sort blocking)."""
    pairs = er_sn_pairs(records, window)
    return er_score_pairs(records, pairs).filter(
        F.col("score") >= threshold
    )


def er_truth_pairs(records: DataFrame) -> DataFrame:
    """All unordered same-entity pairs from the fixture's ground-truth
    ``entity_id`` — the labeled pair set the north rule's F1 target is
    measured against (tests/test_entity_resolution.py does the measuring;
    this helper feeds the blocking-quality report)."""
    l = records.select("entity_id", F.col("rec_id").alias("a"))
    r = records.select("entity_id", F.col("rec_id").alias("b"))
    return (
        l.join(r, "entity_id").filter(F.col("a") < F.col("b")).select("a", "b")
    )


def er_blocking_report(
    records: DataFrame,
    cap: int = DEFAULT_BLOCK_CAP,
    window: int = DEFAULT_SN_WINDOW,
) -> DataFrame:
    """One row per blocking strategy with the two standard blocking
    metrics (Christen 2012): **pairs completeness** (share of labeled
    true pairs surviving into the candidate set — blocking recall) and
    **reduction ratio** (1 - candidates/all-pairs — how much of the
    O(n²) comparison space the blocking removed). The tension between
    the two IS the blocking design problem, so the report puts key
    blocking and sorted-neighborhood side by side over the same records.

    Scale shape: every metric is a 1-row aggregate crossJoined broadcast-
    style — no driver collect, no window; the expensive inputs are the
    candidate generators themselves, already scale-shaped. Candidate
    count and truth-hit count come from ONE left join + aggregate, so
    each generator's plan is evaluated once per strategy (Spark does not
    CSE a plan duplicated across aggregate branches).

    Oracle cap assumption: the driver's ``er_blocking_report`` oracle
    pairs this capped generator against an UNCAPPED all-pairs ``er_cand``
    CTE; parity holds exactly while no block exceeds ``cap`` (true at the
    gated scale factors — the same pre-existing assumption ``er_matches``
    documents). At scale factors where an ``nm:`` block tops 256 rows the
    capped+star head selection would have to be mirrored into the oracle,
    as the LSH pair oracles already do.
    """
    truth = er_truth_pairs(records)
    n_rows = records.select(F.count(F.lit(1)).alias("n"))
    n_truth = truth.select(F.count(F.lit(1)).alias("n_truth"))

    def metrics(cand: DataFrame, name: str) -> DataFrame:
        agg = cand.join(
            truth.withColumn("_t", F.lit(1)), ["a", "b"], "left"
        ).agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count("_t").alias("n_hit"),
        )
        return (
            agg.crossJoin(F.broadcast(n_truth))
            .crossJoin(F.broadcast(n_rows))
            .select(
                F.lit(name).alias("strategy"),
                "n_candidates",
                F.round(F.col("n_hit") / F.col("n_truth"), 6).alias(
                    "pairs_completeness"
                ),
                F.round(
                    # n as double BEFORE the product: n·(n-1) overflows
                    # int64 past ~3e9 rows, and the ratio only needs
                    # double precision anyway
                    F.lit(1.0)
                    - F.col("n_candidates")
                    / (F.col("n").cast("double") * (F.col("n") - 1) / 2.0),
                    6,
                ).alias("reduction_ratio"),
            )
        )

    key = metrics(er_candidate_pairs(records, cap), "key")
    sn = metrics(er_sn_pairs(records, window), "sorted_neighborhood")
    return key.unionByName(sn)


def er_matches_combined(
    records: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    cap: int = DEFAULT_BLOCK_CAP,
    window: int = DEFAULT_SN_WINDOW,
) -> DataFrame:
    """Match set under the UNION of both blocking strategies (key passes
    ∪ sorted-neighborhood), deduplicated before scoring — recall stacks
    the way multi-band LSH bands stack (each blocking recovers pairs the
    other misses; the blocking-quality report quantifies each side), and
    the distinct keeps every pair scored exactly once."""
    cand = (
        er_candidate_pairs(records, cap)
        .unionByName(er_sn_pairs(records, window))
        .distinct()
    )
    return er_score_pairs(records, cand).filter(F.col("score") >= threshold)
