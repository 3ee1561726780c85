"""Incremental / streaming dedupe: new documents vs a retained-unique store.

The reference's comparer is exactly this shape — each arriving document is
scored against the retained uniques sharing a band key; matches are dropped,
survivors join the retained set (`/root/reference/CPPDeduper/
ComparerThread.h:271-414`). Batch Spark replays that per micro-batch:

* state = an epoch log of (signatures, bands) parquet directories — the
  Spark analogue of the reference's hash arena + LSH maps
  (`HashTable.h:24-109`, `LSHBandHashMap.h:234-358`), except durable and
  append-only. A JSON manifest lists the committed epochs, as an Iceberg
  snapshot lists a table's files; ``compact`` merges old epochs, as
  Iceberg's ``rewrite_data_files`` does.
* a new batch is deduped *within itself* (the pipeline's pairs →
  edges → clusters → resolve chain over the batch's own bands, without
  ``run_pipeline``'s identical-sketch collapse) while a second driver
  thread scores the whole batch against state candidates (a doc's match
  depends only on its own signature, bands and the state); survivors
  matching state are dropped; the rest are committed to state as the
  batch's epoch. A batch whose epoch is already committed is a replay
  and returns that epoch's kept set without touching the state.
* the survivor ids are materialized before the append, off the state's
  lineage: the appends and the returned frame read them, so nothing
  collected after the append re-runs the state match.

Ordering semantics (default) match the reference's arrival-order greedy
pass at batch granularity: earlier batches always win; within a batch the
transitive-clustering keep-first rule applies (SURVEY.md §2 C1).
``strict_order=True`` instead reproduces the reference's EXACT per-doc
keep/drop decisions (state-match elimination + arrival-order greedy over
the remainder — see dedupe_increment).

``stream_dedupe`` wires this into Structured Streaming via foreachBatch,
keyed on the batch id: state epoch N and output dir ``epoch=N`` belong to
micro-batch N, so a batch the query re-runs after a crash writes the same
output and no second state copy.
"""

from __future__ import annotations

import fcntl
import glob
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import DedupeConfig
from ..operators.pairs import candidate_pairs
from ..operators.clustering import connected_components
from ..operators.resolve import resolve_clusters
from ..plans.pipeline import hash_family, load_manifest, save_manifest

_KINDS = ("signatures", "bands")


class SignatureState:
    """Durable retained-unique store: signatures + exploded bands, as an
    epoch log.

    Each committed epoch (one batch's survivors) is a pair of parquet dirs,
    ``signatures/epoch=N`` and ``bands/epoch=N``. ``manifest.json`` lists
    the committed entries in epoch order with their dirs and schemas;
    reads see only listed dirs. An epoch is listed only after both its
    writes, in one ``os.replace`` of the manifest, so a crash mid-append
    lists nothing and the rerun overwrites the half-written dirs. In
    Iceberg terms the manifest is a table snapshot, ``append`` a fast
    append and ``compact`` ``rewrite_data_files``.

    ``append`` and ``compact`` are single-writer: each holds a non-blocking
    ``flock`` on ``_lock`` at the root (the kernel drops it when the holder
    dies), and a second writer raises ``RuntimeError``. The root must be a
    shared POSIX filesystem, as for the reference's output writer
    (`DupeResolverThread.h:138-196`): the driver sees the files executors
    wrote, and ``os.replace`` is atomic."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.sig_path = os.path.join(root, "signatures")
        self.bands_path = os.path.join(root, "bands")
        self._manifest_path = os.path.join(root, "manifest.json")

    def _entries(self) -> list[dict]:
        return load_manifest(self._manifest_path).get("entries", [])

    def exists(self) -> bool:
        return bool(self._entries())

    def signatures(self) -> DataFrame:
        return self._read("signatures", self._entries())

    def bands(self) -> DataFrame:
        return self._read("bands", self._entries())

    def committed(self, epoch: int | None) -> DataFrame | None:
        """The signatures committed with ``epoch``, None if it is not
        listed. After ``compact`` merged it, those of its whole merge."""
        entries = [e for e in self._entries() if epoch in e["epochs"]]
        return self._read("signatures", entries) if entries else None

    def _read(self, kind: str, entries: list[dict]) -> DataFrame:
        # the schema recorded at append: the read runs no inference job
        schema = StructType.fromJson(entries[-1]["schema"][kind])
        paths = [os.path.join(self.root, e[kind]) for e in entries]
        return self.spark.read.schema(schema).parquet(*paths)

    def append(self, signatures: DataFrame, bands: DataFrame, epoch: int | None = None) -> None:
        """Commit ``signatures`` and ``bands`` as ``epoch``, which must be
        above every listed epoch; None takes the next number."""
        with self._writer():
            entries = self._entries()
            last = entries[-1]["epochs"][-1] if entries else -1
            epoch = last + 1 if epoch is None else epoch
            if epoch <= last:
                raise ValueError(
                    f"epoch {epoch} is not above the newest committed epoch {last}"
                )
            entry = self._write(f"epoch={epoch}", [epoch], signatures, bands)
            save_manifest(self._manifest_path, {"entries": entries + [entry]})

    def compact(self, target_partitions: int | None = None) -> None:
        """Merge every listed entry but the newest into one base entry of
        ``target_partitions`` files per kind (default: the session's
        parallelism, at least 2): each append adds a few small files, and
        the state match pays one scan task per file. The newest entry stays
        its own, as the only epoch a stream can replay (Structured Streaming
        re-runs only the batch whose commit is missing). After the manifest
        swap every unlisted dir is deleted, also those a crashed append or
        compact left, so compact between batches."""
        with self._writer():
            entries = self._entries()
            old = entries[:-1]
            if len(old) >= 2:
                n = target_partitions or max(2, self.spark.sparkContext.defaultParallelism)
                base = self._write(
                    f"base={old[-1]['epochs'][-1]}",
                    [ep for e in old for ep in e["epochs"]],
                    self._read("signatures", old).repartition(n),
                    self._read("bands", old).repartition(n),
                )
                entries = [base, entries[-1]]
                save_manifest(self._manifest_path, {"entries": entries})
            listed = {os.path.join(self.root, e[k]) for e in entries for k in _KINDS}
            for kind in _KINDS:
                for path in glob.glob(os.path.join(self.root, kind, "*")):
                    if path not in listed:
                        shutil.rmtree(path)

    def _write(self, name: str, epochs: list[int], signatures: DataFrame, bands: DataFrame) -> dict:
        """Write ``signatures/<name>`` and ``bands/<name>``; returns their
        manifest entry. Two driver threads submit the two writes, so the
        second job's tasks back-fill executors freed by the first one's
        tail; wrapped on the calling thread, both run in its job group.
        Callers pass frames over materialized ids: no write recomputes them."""
        entry = {"epochs": epochs}
        frames = dict(zip(_KINDS, (signatures, bands)))
        with ThreadPoolExecutor(max_workers=2) as ex:
            fs = []
            for kind, df in frames.items():
                entry[kind] = f"{kind}/{name}"
                path = os.path.join(self.root, entry[kind])
                write = lambda df=df, path=path: df.write.mode("overwrite").parquet(path)
                fs.append(ex.submit(inheritable_thread_target(self.spark)(write)))
            for f in fs:
                f.result()
        entry["schema"] = {k: df.schema.jsonValue() for k, df in frames.items()}
        return entry

    @contextmanager
    def _writer(self):
        """Hold the single-writer lock; closing the file releases it."""
        with open(os.path.join(self.root, "_lock"), "a") as f:
            try:
                fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                raise RuntimeError(
                    f"another writer holds {f.name}: one writer at a time"
                ) from None
            yield


def dedupe_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    state: SignatureState,
    cfg: DedupeConfig,
    strict_order: bool = False,
    family: str = "parity",
    epoch: int | None = None,
) -> DataFrame:
    """Process one batch; returns the surviving (kept) docs with full
    schema, and commits their signatures to the state as ``epoch`` (None:
    the next number). An ``epoch`` the state already lists is a replay:
    it runs no state match and writes nothing, and returns ``new_docs``
    semi-joined with the ids that epoch committed — the kept set the
    first run returned.

    ``strict_order=False`` (default): within-batch transitive clustering
    (keep-first per component), then survivors are dropped if they match
    state — batch-granularity arrival order (SURVEY.md §2 C1).

    ``strict_order=True``: the reference's EXACT per-doc pass
    (`ComparerThread.h:271-414`) — a doc is dropped iff it matches an
    already-RETAINED earlier doc. Because every state doc is retained and
    earlier than the whole batch, this factors exactly: (1) docs matching
    state are dropped outright (they can never be retained, so they also
    cannot drop anyone); (2) the remaining docs run the arrival-order
    greedy resolve (operators/greedy.py: one task under its edge cap)
    over the within-batch edges restricted to them. The two modes
    genuinely differ: for batch docs X < Y with X~Y, where X matches state
    but Y does not, the default drops both (Y loses to X within-batch, X
    loses to state) while the reference keeps Y (its only match X was
    never retained) — pinned in tests/test_greedy.py.

    ``family`` selects the hash family and the rules its oracle fixes
    (plans/pipeline.py ``FAMILIES``)."""
    from ..cache import track

    fam = hash_family(family)
    cfg = fam.config(cfg)
    cfg.validate()
    id_col = cfg.id_col

    done = state.committed(epoch)
    if done is not None:
        # materialized, as on the first run: the frame never reads the state
        return new_docs.join(done.select(id_col).localCheckpoint(), id_col, "left_semi")

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
            # collapse); resolve_clusters reads the clusters once
            pairs_in = candidate_pairs(bands_new, cfg)
            edges_in = fam.score(pairs_in, sigs_new, cfg).filter(
                F.col("jaccard") >= F.lit(cfg.threshold)
            )
            clusters = connected_components(
                edges_in.select("a", "b"), cfg.cc_max_iterations, distinct_pairs=True
            )
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
        epoch,
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
    semantics: incoming doc vs retained uniques sharing >=1 band)."""
    id_col = cfg.id_col
    cand = (
        bands.select("band_id", "band_key", F.col(id_col).alias("a"))
        .join(
            state.bands().select("band_id", "band_key", F.col(id_col).alias("b")),
            ["band_id", "band_key"],
        )
        # a != b: a doc is never scored against its own id. The match runs
        # before this batch's append, and a replayed epoch returns before
        # the match, so the only such pair is an id re-sent in a later epoch.
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    all_sigs = sigs.unionByName(state.signatures())
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
    out = greedy_resolve(live_docs.select(id_col), edges_in.select("a", "b"), cfg)
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
    incremental dedupe → parquet sink. Returns the StreamingQuery.

    Micro-batch ``epoch_id`` commits state epoch ``epoch_id`` and
    overwrites ``output_dir/epoch=<epoch_id>``, so a batch the query
    re-runs after a crash rewrites the same kept set and leaves the state
    as it is. The state's epochs are this query's batch ids: keep one
    checkpoint per state dir."""
    state = SignatureState(spark, state_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from ..cache import release_all

        kept = dedupe_increment(
            spark, batch_df, state, cfg, strict_order=strict_order, epoch=epoch_id
        )
        kept.write.mode("overwrite").parquet(os.path.join(output_dir, f"epoch={epoch_id}"))
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
