"""Incremental / streaming dedupe: new documents vs a retained-unique store.

The reference's comparer is exactly this shape — each arriving document is
scored against the retained uniques sharing a band key; matches are dropped,
survivors join the retained set (`/root/reference/CPPDeduper/
ComparerThread.h:271-414`). Batch Spark replays that per micro-batch:

* state = (signatures, bands) parquet directories — the Spark analogue of
  the reference's hash arena + LSH maps (`HashTable.h:24-109`,
  `LSHBandHashMap.h:234-358`), except durable and append-only.
* a new batch is deduped *within itself* (the pipeline's pairs →
  edges → clusters → resolve chain over the batch's own bands, without
  ``run_pipeline``'s identical-sketch collapse) while a second driver
  thread scores the whole batch against state candidates (a doc's match
  depends only on its own signature, bands and the state); survivors
  matching state are dropped; the rest are appended to state.
* the survivor ids are materialized before the append, off the state's
  lineage: the appends and the returned frame read them, so nothing
  collected after the append re-runs the state match.

Ordering semantics (default) match the reference's arrival-order greedy
pass at batch granularity: earlier batches always win; within a batch the
transitive-clustering keep-first rule applies (SURVEY.md §2 C1).
``strict_order=True`` instead reproduces the reference's EXACT per-doc
keep/drop decisions (state-match elimination + arrival-order greedy over
the remainder — see dedupe_increment).

``stream_dedupe`` wires this into Structured Streaming via foreachBatch —
the recommended pattern for stateful sinks with exactly-once parquet
output; the state directories make restarts idempotent per epoch.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import DedupeConfig
from ..operators.pairs import candidate_pairs
from ..operators.clustering import connected_components
from ..operators.resolve import resolve_clusters
from ..plans.pipeline import hash_family


class SignatureState:
    """Durable retained-unique store: signatures + exploded bands.

    Filesystem assumption: the state root must be a SHARED POSIX
    filesystem (NFS/Lustre/local in tests) — compaction and crash
    recovery rely on atomic same-directory ``os.rename`` and on the
    driver seeing the files executors wrote, the same assumption the
    reference's output writer makes (`DupeResolverThread.h:138-196`).
    On an object store (S3/GCS) rename is copy+delete and not atomic;
    the intended deployment there is the Iceberg-backed
    ``CheckpointStore`` seam (plans/pipeline.py) where the table commit
    protocol replaces the rename dance and ``compact`` maps to
    ``rewrite_data_files``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.sig_path = os.path.join(root, "signatures")
        self.bands_path = os.path.join(root, "bands")

    def exists(self) -> bool:
        self._recover(self.sig_path)
        self._recover(self.bands_path)
        return os.path.exists(os.path.join(self.sig_path, "_SUCCESS"))

    def signatures(self, schema: StructType | None = None) -> DataFrame:
        return self._read(self.sig_path, schema)

    def bands(self, schema: StructType | None = None) -> DataFrame:
        return self._read(self.bands_path, schema)

    def _read(self, path: str, schema: StructType | None) -> DataFrame:
        # the appended frames' schema, if known, saves the inference job
        self._recover(path)
        reader = self.spark.read
        return (reader.schema(schema) if schema else reader).parquet(path)

    def append(self, signatures: DataFrame, bands: DataFrame) -> None:
        # the two appends are independent jobs on different directories;
        # submitting them from two driver threads lets the second job's
        # tasks back-fill executors freed by the first one's tail instead
        # of paying two full job latencies back to back. The writes are
        # wrapped here, on the calling thread, so their jobs run in its
        # job group. Callers pass frames over materialized survivor ids,
        # so neither write recomputes them.
        with ThreadPoolExecutor(max_workers=2) as ex:
            fs = [
                ex.submit(
                    inheritable_thread_target(self.spark)(
                        lambda df=df, path=path: df.write.mode("append").parquet(path)
                    )
                )
                for df, path in (
                    (signatures, self.sig_path),
                    (bands, self.bands_path),
                )
            ]
            for f in fs:
                f.result()

    def compact(self, target_partitions: int | None = None) -> None:
        """Rewrite the state dirs into ``target_partitions`` files each.
        Every micro-batch append adds a handful of small files; after many
        epochs the candidate join against state pays one scan task per
        tiny file. Compaction is an offline maintenance pass (the Iceberg
        analogue is rewrite_data_files).

        Crash safety: the swap is two renames, not one atomic operation —
        a crash between them leaves the live dir missing but the previous
        state intact under ``_old``; ``_recover()`` (called here and on
        every read) renames it back. Stale ``_compacting``/``_old``
        leftovers from prior crashes are cleared up-front, so compact
        always starts from a clean slate instead of raising.

        Concurrency: compaction is single-writer, enforced with an
        O_EXCL lock file at the state root — two simultaneous compacts
        would race on the same ``_compacting``/``_old`` renames. A second
        caller raises ``RuntimeError`` immediately (maintenance jobs
        should serialize, not queue). A lock left behind by a crashed
        compact is broken after ``lock_timeout_sec`` (the dead process
        cannot refresh its mtime); the break itself is atomic — the stale
        lock is renamed to a caller-unique name first, so of two waiters
        observing the same stale lock exactly one wins the rename and
        breaks it, the other sees FileNotFoundError and retries O_EXCL
        against whatever lock the winner creates. A LIVE holder refreshes
        the lock mtime after each long Spark rewrite (once per state dir),
        so ``lock_timeout_sec`` bounds a single directory rewrite, not the
        whole compact — a legitimately slow compact is not broken mid-run."""
        import shutil

        self._acquire_lock()
        try:
            for path in (self.sig_path, self.bands_path):
                self._recover(path)
                tmp, old = path + "_compacting", path + "_old"
                shutil.rmtree(tmp, ignore_errors=True)  # stale half-written rewrite
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    continue
                df = self.spark.read.parquet(path)
                n = target_partitions or max(
                    2, self.spark.sparkContext.defaultParallelism
                )
                df.repartition(n).write.mode("overwrite").parquet(tmp)
                self._refresh_lock()  # still alive: the rewrite was the slow part
                os.rename(path, old)
                os.rename(tmp, path)  # crash before this line -> _recover undoes
                shutil.rmtree(old)
        finally:
            self._release_lock()

    # single-writer compaction lock -------------------------------------
    lock_timeout_sec: float = 3600.0

    @property
    def _lock_path(self) -> str:
        return os.path.join(self.root, "_compact.lock")

    def _acquire_lock(self) -> None:
        import time
        import uuid

        lock = self._lock_path
        try:
            if (
                os.path.exists(lock)
                and time.time() - os.path.getmtime(lock) > self.lock_timeout_sec
            ):
                # Atomic stale-break: rename-then-unlink. Of two waiters
                # that both observed the stale mtime, exactly one rename
                # succeeds (rename of an already-moved file raises); the
                # loser falls through to O_EXCL and collides with whatever
                # lock the winner creates next. A plain unlink here would
                # let the second waiter delete the FIRST waiter's freshly
                # created lock (the TOCTOU the advisor flagged).
                grave = f"{lock}.stale-{os.getpid()}-{uuid.uuid4().hex[:8]}"
                os.rename(lock, grave)
                os.unlink(grave)
        except FileNotFoundError:
            pass
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"another compact holds {lock}; state compaction is "
                "single-writer (serialize maintenance jobs, or remove the "
                "lock file if the holder is known dead)"
            )
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))

    def _refresh_lock(self) -> None:
        """Holder heartbeat: bump the lock mtime so a compact whose SINGLE
        slow step stays under ``lock_timeout_sec`` is never stale-broken
        mid-run even when the whole compact takes longer."""
        try:
            os.utime(self._lock_path)
        except FileNotFoundError:
            pass  # lock was force-removed; the renames still race-protect via _recover

    def _release_lock(self) -> None:
        try:
            os.unlink(self._lock_path)
        except FileNotFoundError:
            pass

    @staticmethod
    def _recover(path: str) -> None:
        """If a prior compact crashed between its two renames (live dir
        missing, ``_old`` present), restore the previous state."""
        import shutil

        old = path + "_old"
        if os.path.exists(old):
            if os.path.exists(path):
                shutil.rmtree(old)  # crash after the swap completed
            else:
                os.rename(old, path)


def dedupe_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    state: SignatureState,
    cfg: DedupeConfig,
    strict_order: bool = False,
    family: str = "parity",
) -> DataFrame:
    """Process one batch; returns the surviving (kept) docs with full
    schema, and appends their signatures to the state.

    ``strict_order=False`` (default): within-batch transitive clustering
    (keep-first per component), then survivors are dropped if they match
    state — batch-granularity arrival order (SURVEY.md §2 C1).

    ``strict_order=True``: the reference's EXACT per-doc pass
    (`ComparerThread.h:271-414`) — a doc is dropped iff it matches an
    already-RETAINED earlier doc. Because every state doc is retained and
    earlier than the whole batch, this factors exactly: (1) docs matching
    state are dropped outright (they can never be retained, so they also
    cannot drop anyone); (2) the remaining docs run the arrival-order
    greedy fixed-point (operators/greedy.py) over the within-batch edges
    restricted to them. The two modes genuinely differ: for batch docs
    X < Y with X~Y, where X matches state but Y does not, the default
    drops both (Y loses to X within-batch, X loses to state) while the
    reference keeps Y (its only match X was never retained) — pinned in
    tests/test_greedy.py.

    ``family`` selects the hash family and the rules its oracle fixes
    (plans/pipeline.py ``FAMILIES``)."""
    from ..cache import track

    fam = hash_family(family)
    cfg = fam.config(cfg)
    id_col = cfg.id_col

    # multi-consumer intermediates: the signatures feed the within-batch
    # scoring, the state scoring, and the state append; the bands feed
    # candidate generation (itself a multi-pass consumer), the state
    # candidate join, and the append. Unpersisted, each consumer re-runs
    # the full sketch of the batch — 3-4 extra corpus passes per epoch at
    # any scale. Registered with the session cache registry; the caller
    # releases after materializing the batch (cache.py contract).
    sigs_new = track(fam.sketch(new_docs, cfg))
    bands_new = track(fam.bands(sigs_new, cfg))

    # the state match of the whole batch runs on a second driver thread,
    # in the caller's job group, and materializes its ids there, beside the
    # within-batch pass. Leaving the `with` waits for it, also when the
    # within-batch pass raises: no job of the batch outlives the call.
    with ThreadPoolExecutor(max_workers=1) as ex:
        match = inheritable_thread_target(spark)(
            lambda: _state_matches(
                state, sigs_new, bands_new, cfg, fam.score
            ).localCheckpoint()
        )
        dups = ex.submit(match) if state.exists() else None
        if strict_order:
            survivor_ids = _dedupe_increment_strict(
                new_docs, sigs_new, bands_new, dups and dups.result(), cfg, fam.score
            )
        else:
            # dedupe the batch against itself (pipeline stages, no
            # collapse); resolve_clusters reads the clusters three times
            pairs_in = candidate_pairs(bands_new, cfg)
            edges_in = fam.score(pairs_in, sigs_new, cfg).filter(
                F.col("jaccard") >= F.lit(cfg.threshold)
            )
            clusters = track(connected_components(
                edges_in.select("a", "b"), cfg.cc_max_iterations, distinct_pairs=True
            ))
            resolved = resolve_clusters(new_docs, clusters, cfg)
            survivor_ids = resolved.filter(F.col("is_kept")).select(id_col)
            if dups:
                survivor_ids = survivor_ids.join(dups.result(), id_col, "left_anti")

    # append survivors to state. The ids are materialized first, off the
    # state's lineage (eager localCheckpoint, as in operators/clustering.py):
    # an append re-caches every cached plan that reads the state dirs, so the
    # appends and the caller's collect would each re-run the state match on
    # a registry persist. Not a registry entry: freed once garbage-collected.
    survivor_ids = survivor_ids.localCheckpoint()
    state.append(
        sigs_new.join(survivor_ids, id_col, "left_semi"),
        bands_new.join(survivor_ids, id_col, "left_semi"),
    )
    return new_docs.join(survivor_ids, id_col, "left_semi")


def _state_matches(
    state: SignatureState,
    sigs: DataFrame,
    bands: DataFrame,
    cfg: DedupeConfig,
    score_fn,
) -> DataFrame:
    """Ids of the (sigs, bands) docs that share a band with a retained
    state doc and score jaccard >= threshold against it (reference
    semantics: incoming doc vs retained uniques sharing >=1 band). The
    state is read with the schemas of ``sigs`` and ``bands``: its files
    were appended from frames of the same schemas."""
    id_col = cfg.id_col
    cand = (
        bands.select("band_id", "band_key", F.col(id_col).alias("a"))
        .join(
            state.bands(bands.schema).select(
                "band_id", "band_key", F.col(id_col).alias("b")
            ),
            ["band_id", "band_key"],
        )
        # a != b: the match runs once over the whole batch, before this
        # batch's append, so the state never holds the batch's own docs
        # here. The guard only keeps a doc whose id is already retained
        # (a replayed epoch) from matching itself.
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    all_sigs = sigs.unionByName(state.signatures(sigs.schema))
    matches = score_fn(cand, all_sigs, cfg).filter(
        F.col("jaccard") >= F.lit(cfg.threshold)
    )
    return matches.select(F.col("a").alias(id_col)).distinct()


def _dedupe_increment_strict(
    new_docs: DataFrame,
    sigs_new: DataFrame,
    bands_new: DataFrame,
    state_dups: DataFrame | None,
    cfg: DedupeConfig,
    score_fn,
) -> DataFrame:
    """strict_order=True survivor ids: the docs matching state
    (``state_dups``, None on an empty state) first, then arrival-order
    greedy over the remaining docs (see dedupe_increment docstring for the
    proof sketch that this equals the reference's per-doc pass)."""
    from ..operators.greedy import greedy_resolve

    id_col = cfg.id_col

    live_docs = new_docs
    if state_dups is not None:
        live_docs = new_docs.join(state_dups, id_col, "left_anti")

    live_ids = live_docs.select(id_col)
    bands_live = bands_new.join(live_ids, id_col, "left_semi")
    pairs_in = candidate_pairs(bands_live, cfg)
    edges_in = score_fn(pairs_in, sigs_new, cfg).filter(
        F.col("jaccard") >= F.lit(cfg.threshold)
    )
    # distinct_pairs: candidate_pairs ends in dropDuplicates and the
    # scoring joins are 1:1 per pair
    out = greedy_resolve(
        live_docs.select(id_col),
        edges_in.select("a", "b"),
        cfg,
        distinct_pairs=True,
    )
    return out.filter(F.col("is_kept")).select(id_col)


def stream_dedupe(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    output_dir: str,
    cfg: DedupeConfig,
    checkpoint_dir: str | None = None,
    strict_order: bool = False,
):
    """Structured Streaming wrapper: readStream source → per-micro-batch
    incremental dedupe → parquet sink. Returns the StreamingQuery."""
    state = SignatureState(spark, state_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from ..cache import release_all

        kept = dedupe_increment(spark, batch_df, state, cfg, strict_order=strict_order)
        kept.write.mode("append").parquet(output_dir)
        # the epoch's tracked sketch/band persists die with the epoch — a
        # long-running stream must not accumulate one cached RDD pair per
        # micro-batch (cache.py contract: the materializing caller releases)
        release_all()

    return (
        source.writeStream.foreachBatch(process)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(state_dir, "_stream_checkpoint"),
        )
        .trigger(availableNow=True)
        .start()
    )
