"""The staged dedupe pipeline: sketch → block → pairs → score → cluster → resolve.

Replaces the reference's hard-wired thread topology
(`/root/reference/CPPDeduper/CPPDeduper.cpp:85-217`) with six declarative
DataFrame stages, each checkpointed to the stage store so any stage is
resumable (north_rule): a rerun skips every stage whose checkpoint manifest
entry matches the (config fingerprint, hash family, input token) — the
Spark analogue of the reference's drain/restart-from-scratch model, which
had no resumability at all.

The stage DAG is written once and run under either hash family
(``FAMILIES``): ``parity`` (the reference-bit-equal XXH64 sketch, the
production default) or ``sql`` (the md5 family of plans/sql_mode.py, which
a DuckDB oracle can replay hash for hash). The family fixes its own stage
functions and the rules its oracle pins; callers choose only the family.

Checkpoint store: parquet directories + a JSON manifest. In a production
deployment each stage writes an Iceberg table and the manifest is the
Iceberg snapshot lineage; this environment has no Iceberg runtime jars, so
the store abstracts only what we need (write/read/exists). The store only
stores: a stage body builds the same plan with or without one. Per-file
row counters come from the footers of the files a stage just wrote and
land in ``_metrics/<stage>.parquet`` (lineage requirement); the ``pairs``
manifest entry also records how many band buckets the pair router found
over the hot-band cap and routed apart — no silent drops.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import DedupeConfig
from ..operators.sketch_op import sketch_documents
from ..operators.blocking import explode_bands
from ..cache import track
from ..operators.pairs import candidate_pairs, hot_keys
from ..operators.scoring import score_pairs
from ..operators.clustering import connected_components
from ..operators.resolve import resolve_clusters
from .sql_mode import sql_bands, sql_score_pairs, sql_sketch

STAGES = ("signatures", "sig_reps", "bands", "pairs", "edges", "clusters", "resolved")

# bump when the stage DAG or a stage's semantics change, so stale
# checkpoints from older layouts can never be resumed into a new run
# (v4: all_pairs hot-bucket routing became windowless hash-head+star;
# v5: chain_star always finds hot buckets from the 2% sample, also when a
# store is attached)
PIPELINE_VERSION = 5


@dataclass(frozen=True)
class HashFamily:
    """A hash family's stage functions plus the rules its oracle fixes."""

    sketch: Callable[[DataFrame, DedupeConfig], DataFrame]
    bands: Callable[[DataFrame, DedupeConfig], DataFrame]
    score: Callable[[DataFrame, DataFrame, DedupeConfig], DataFrame]
    # pair topology the family's oracle defines (None: the config's own)
    pair_topology: str | None = None
    # identical-sketch collapse (signature_reps) ahead of blocking
    collapse: bool = True

    def config(self, cfg: DedupeConfig) -> DedupeConfig:
        if self.pair_topology is None:
            return cfg
        return dataclasses.replace(cfg, pair_topology=self.pair_topology)


# ``parity``: the production family (XXH64 over the reference tokenizer's
# UTF-16 bytes, bit-equal to the reference, not SQL-expressible). ``sql``:
# the md5 family of plans/sql_mode.py, which Spark and DuckDB compute
# identically. Its oracle fixes two rules. (1) all_pairs: the oracle's
# ``cand`` CTE is ALL distinct band-colliding pairs, which chain_star
# provably omits in buckets of >= 4 docs (chain_star and the over-cap
# branch keep their own oracles, ``lsh_sql_pairs_chain`` and
# ``lsh_sql_pairs_capped``). (2) no collapse: the oracle's edges are the
# scored, thresholded pairs only, with no J=1.0 member edges.
FAMILIES = {
    "parity": HashFamily(sketch_documents, explode_bands, score_pairs),
    "sql": HashFamily(
        sql_sketch,
        sql_bands,
        sql_score_pairs,
        pair_topology="all_pairs",
        collapse=False,
    ),
}


def hash_family(name: str) -> HashFamily:
    try:
        return FAMILIES[name]
    except KeyError:
        raise ValueError(
            f"unknown hash family {name!r} (use 'parity' or 'sql')"
        ) from None


def load_manifest(path: str) -> dict:
    """The JSON manifest at ``path``; empty when none was saved yet."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def save_manifest(path: str, m: dict) -> None:
    """Replace the manifest at ``path`` in one ``os.replace``."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1)
    os.replace(tmp, path)


class CheckpointStore:
    """Parquet-directory stage store with a JSON manifest.

    ``write`` is one Spark write per stage. Its row counters are read from
    the parquet footers of the part files that write committed, on the
    driver with pyarrow (no Spark job), and stored as
    ``_metrics/<stage>.parquet`` — (stage, partition_id, rows), one row per
    part file, ``partition_id`` being the part file's task number. Each
    rewrite replaces that file, so ``_metrics`` always describes the live
    stage and its sum is the manifest ``rows``. In an Iceberg deployment
    these are the snapshot summary's per-file counts.

    A manifest entry also holds the stage's schema, so a resumed ``read``
    runs no schema-inference job; an entry without one is recomputed. A
    rewrite drops the stage's entry before it touches the directory, so a
    crash mid-write never leaves an old fingerprint naming new files.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "manifest.json")

    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        e = load_manifest(self._manifest_path).get(stage) or {}
        return e.get("fingerprint") == fingerprint and "schema" in e and os.path.exists(
            os.path.join(self.path(stage), "_SUCCESS")
        )

    def read(self, stage: str) -> DataFrame:
        schema = StructType.fromJson(load_manifest(self._manifest_path)[stage]["schema"])
        return self.spark.read.schema(schema).parquet(self.path(stage))

    def write(
        self, stage: str, df: DataFrame, fingerprint: str, notes: Callable[[], dict] = dict
    ) -> DataFrame:
        """Write ``df`` as ``stage``; ``notes()``, called after the write,
        joins its manifest entry."""
        t0 = time.time()
        m = load_manifest(self._manifest_path)
        if m.pop(stage, None) is not None:
            save_manifest(self._manifest_path, m)
        df.write.mode("overwrite").parquet(self.path(stage))
        rows = self._record_file_rows(stage)
        m[stage] = {
            "fingerprint": fingerprint,
            "rows": rows,
            **notes(),
            "wall_sec": round(time.time() - t0, 2),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema": df.schema.jsonValue(),
        }
        save_manifest(self._manifest_path, m)
        # the written schema is known: the read-back runs no inference job
        return self.spark.read.schema(df.schema).parquet(self.path(stage))

    def _record_file_rows(self, stage: str) -> int:
        """Row count of each committed part file, read from its footer and
        written to ``_metrics/<stage>.parquet`` (replacing the last one);
        returns their sum."""
        d = self.path(stage)
        parts = sorted(
            n for n in os.listdir(d) if n.startswith("part-") and n.endswith(".parquet")
        )
        rows = [pq.read_metadata(os.path.join(d, n)).num_rows for n in parts]
        table = pa.table(
            {
                "stage": pa.array([stage] * len(parts), pa.string()),
                "partition_id": pa.array([int(n.split("-")[1]) for n in parts], pa.int32()),
                "rows": pa.array(rows, pa.int64()),
            }
        )
        mdir = os.path.join(self.root, "_metrics")
        os.makedirs(mdir, exist_ok=True)
        # dot-prefixed: Spark skips it if a crash leaves it behind
        tmp = os.path.join(mdir, f".{stage}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(mdir, f"{stage}.parquet"))
        return sum(rows)


def signature_reps(signatures: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Identical-sketch collapse: (id, sig_len, signature) → (id, rep_id)
    with rep_id = min id per distinct non-empty signature.

    Byte-identical sketches are duplicates by definition (J = 1.0 for
    non-empty sketches), and at web scale the exact-dupe/boilerplate mass
    is large, so blocking/pairing/scoring run over one representative per
    distinct sketch; members rejoin as direct J=1.0 edges before
    clustering.

    Physical shape: grouping and the member join run on a 96-bit composite
    fingerprint of the signature (``xxhash64`` + 32-bit murmur3 ``hash``,
    two independent JVM hash families over the raw array), NOT on the
    ~2 KB array itself. Both shuffles of this stage then carry ~20 B/row
    instead of the full sketch (~100× less volume than grouping on the
    array), every row is fixed-width (an earlier collect_list formulation
    materialized one UNBOUNDED row per family — a 10⁷-member boilerplate
    family OOMed by construction; the min-aggregate + join-back never
    builds a list), and a mega-family is just a skewed join key that AQE
    skew-splitting handles. Collision math: a false J=1.0 merge needs two
    DISTINCT sketches with equal 96-bit fingerprints; at 10⁹ distinct
    sketches P[any such pair] ≈ 10¹⁸/2⁹⁷ ≈ 6·10⁻¹² — orders of magnitude
    below the 64-bit band-key equivalence the pairing stage already
    accepts (operators/pairs.py), so the fingerprint is not the weakest
    link anywhere.
    """
    id_col = cfg.id_col
    keyed = signatures.filter(F.col("sig_len") > 0).select(
        id_col,
        F.xxhash64("signature").alias("_k1"),
        F.hash("signature").alias("_k2"),
    )
    reps = keyed.groupBy("_k1", "_k2").agg(F.min(id_col).alias("rep_id"))
    return keyed.join(reps, ["_k1", "_k2"]).select(id_col, "rep_id")


@dataclass
class PipelineResult:
    signatures: DataFrame
    bands: DataFrame
    pairs: DataFrame
    edges: DataFrame
    clusters: DataFrame
    resolved: DataFrame


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg: DedupeConfig | None = None,
    checkpoint_dir: str | None = None,
    input_token: str = "",
    stop_after: str | None = None,
    *,
    family: str = "parity",
) -> PipelineResult:
    """Run (or resume) the dedupe pipeline over ``docs``.

    ``docs`` must carry ``cfg.id_col`` (unique) and ``cfg.text_col``.
    With ``checkpoint_dir``, completed stages (matching config fingerprint,
    hash family and input token) are read back instead of recomputed;
    ``stop_after`` lets callers run a prefix (used by the resume tests and
    by incremental jobs).

    ``family`` selects the hash family (``FAMILIES``): ``"parity"`` runs
    the identical-sketch collapse (``sig_reps``) under the config's pair
    topology; ``"sql"`` runs all_pairs without the collapse, so every
    stage output matches the DuckDB oracle of the md5 chain.
    """
    fam = hash_family(family)
    cfg = fam.config(cfg or DedupeConfig())
    cfg.validate()
    store = CheckpointStore(spark, checkpoint_dir) if checkpoint_dir else None
    fp = f"v{PIPELINE_VERSION}:{family}:" + cfg.fingerprint() + ":" + input_token

    # Persist only stages that are CONSUMED MORE THAN ONCE downstream
    # (Spark does not CSE duplicated UDF subtrees, so e.g. unpersisted
    # signatures would re-run the sketch kernel once per reference).
    # Caching single-consumer stages just doubles their memory traffic —
    # measured slower. bands feeds the hot-bucket aggregate (chain_star's
    # 2% sample, all_pairs' exact bucket_stats) plus the pair branches
    # under both topologies. clusters is NOT here: resolve_clusters reads
    # it through one left join whose exchange all its branches share.
    # Nor is "resolved" (r6): every caller consumes it exactly once
    # (audited: entry/queries/dedupe_output all reference it in a single
    # plan branch), so persisting it only added a cache write of the
    # widest per-doc relation.
    multi_consumer = {"signatures", "sig_reps", "bands"}

    def stage(name: str, make, notes=dict) -> DataFrame:
        # ``notes``: extra manifest fields, computed only when written
        if store is None:
            out = make()
            if name in multi_consumer:
                # registered with the session cache registry — callers
                # (bench, driver query wrappers) release between queries
                out = track(out)
            return out
        if store.is_complete(name, fp):
            return store.read(name)
        return store.write(name, make(), fp, notes)

    id_col = cfg.id_col
    signatures = stage("signatures", lambda: fam.sketch(docs, cfg))
    if stop_after == "signatures":
        return PipelineResult(signatures, None, None, None, None, None)

    # Identical-sketch collapse (see signature_reps): blocking/pairing/
    # scoring run over one representative per distinct sketch; members
    # rejoin as direct J=1.0 edges before clustering. Clustering output is
    # identical-or-better (members are guaranteed connected even where the
    # hot-bucket cap would have star-routed them).
    sig_reps, rep_sigs = None, signatures
    if fam.collapse:
        sig_reps = stage("sig_reps", lambda: signature_reps(signatures, cfg))
        rep_sigs = signatures.join(
            sig_reps.filter(F.col(id_col) == F.col("rep_id")).select(id_col),
            id_col,
            "left_semi",
        )

    bands = stage("bands", lambda: fam.bands(rep_sigs, cfg))
    if stop_after == "bands":
        return PipelineResult(signatures, bands, None, None, None, None)

    # the note counts the hot keys the router routed apart: after the
    # write it reads their cached relation, not bands
    pairs = stage(
        "pairs",
        lambda: candidate_pairs(bands, cfg),
        notes=lambda: {"hot_buckets": hot_keys(bands, cfg).count()},
    )
    if stop_after == "pairs":
        return PipelineResult(signatures, bands, pairs, None, None, None)

    def make_edges() -> DataFrame:
        scored = fam.score(pairs, rep_sigs, cfg).filter(
            F.col("jaccard") >= F.lit(cfg.threshold)
        )
        if sig_reps is None:
            return scored
        member_edges = (
            sig_reps.filter(F.col(id_col) != F.col("rep_id"))
            .select(
                F.col(id_col).alias("a"),
                F.col("rep_id").alias("b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return scored.unionByName(member_edges)

    edges = stage("edges", make_edges)
    if stop_after == "edges":
        return PipelineResult(signatures, bands, pairs, edges, None, None)

    clusters = stage(
        "clusters",
        # distinct_pairs: candidate_pairs ends in dropDuplicates and the
        # identical-sketch member edges are disjoint from scored rep-rep
        # pairs, so the edge list is already distinct as sets
        lambda: connected_components(
            edges.select("a", "b"),
            max_iterations=cfg.cc_max_iterations,
            distinct_pairs=True,
        ),
    )
    if stop_after == "clusters":
        return PipelineResult(signatures, bands, pairs, edges, clusters, None)

    resolved = stage("resolved", lambda: resolve_clusters(docs, clusters, cfg))
    return PipelineResult(signatures, bands, pairs, edges, clusters, resolved)
