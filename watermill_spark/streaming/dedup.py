"""Streaming near-duplicate filter: MinHash-LSH dedup over micro-batches.

The streaming twin of the batch dedup family (`analytics/dedup.py`): an
ingest-time filter that admits a document only if no earlier-admitted
document shares an LSH band with it. Reference analog: the Deduplicator
middleware (`message/router/middleware/deduplicator.go:117-129`) is the
EXACT-hash version of this — one message, one key, seen-set lookup; this
component is what a training-data pipeline actually needs at ingest:
*near*-duplicate suppression with the same first-seen-wins contract.

Semantics — **greedy first-seen-wins, independent of micro-batch
boundaries**: processing docs ordered by ``doc_id``, a doc is REJECTED iff
it shares at least one LSH band with a smaller-id doc that was ADMITTED;
otherwise it is admitted and registers all its bands. The
slicing-invariance guarantee assumes batches arrive in ``doc_id`` order
(the natural ingest order — assign arrival-ordered ids at the front
door). Out-of-order arrival is still deterministic *for a given slicing*
(earlier-batch admissions win over any id), it just no longer equals the
id-ordered sequential pass. This is the
sequential greedy pass a single-node dedup service would make, computed
distributed:

- Bands of previously admitted docs live in a persistent parquet
  **bucket registry** ``(band_idx, band_key, owner)`` — NOT in the
  streaming state store. At 100 TB the registry is a table (Delta/Iceberg
  in production; plain parquet here), appended once per micro-batch and
  anti-joined against each new batch: bounded by n_bands x admitted docs
  (linear in the UNIQUE corpus, not the stream), shuffle-join scalable,
  and it survives restarts for free.
- Registry hits reject immediately. In-batch conflicts are resolved by a
  short **fixpoint loop**: each round admits every still-undecided doc
  that is the minimum undecided doc in ALL of its buckets (nothing
  undecided can block it, and everything smaller already resolved), then
  rejects undecided docs sharing a bucket with a newly admitted one.
  Each round decides at least the globally smallest undecided doc, so the
  loop terminates; measured depth on the near-dup-saturated test corpus
  is 2-3 rounds. This makes the admitted set EQUAL to the sequential
  greedy result whatever the micro-batch slicing — the property
  `tests/test_streaming_dedup.py` pins against a brute-force oracle.
- A rejected doc registers NOTHING (greedy semantics: its other buckets
  stay free — see the A-B-C chain test). A re-delivered admitted doc
  (at-least-once replay) hits only buckets it owns itself and is
  classified as a replay, not a duplicate.

Exactly-once: `attach()` wraps the per-batch work in `IdempotentBatchSink`;
the registry append is itself idempotent per batch (overwrite of a
batch-keyed subdirectory), so a replayed batch re-derives identical
decisions from identical prefix state. Topic publishes are at-least-once —
pair the output with a uuid-idempotent consumer, the documented pairing
(`streaming/exactly_once.py`).

Scale notes (100 TB): per-batch cost is the batch's own window/join work
plus ONE join against the registry on (band_idx, band_key) — Catalyst
broadcasts the small side (a micro-batch is tiny next to the registry; no
manual hint, per the broadcast-cardinality audit). The fixpoint loop
touches only in-batch undecided docs and localCheckpoints each round
(lineage discipline from the connected-components rework, SCALE.md
"Iterative algorithms").
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from watermill_spark.analytics.dedup import (
    BAND_SIZE,
    N_HASHES,
    _banded,
    minhash_signatures,
)
from watermill_spark.message import with_metadata
from watermill_spark.streaming.exactly_once import IdempotentBatchSink

_LOG = logging.getLogger(__name__)

REGISTRY_SCHEMA = StructType(
    [
        StructField("band_idx", IntegerType(), nullable=False),
        StructField("band_key", StringType(), nullable=False),
        StructField("owner", LongType(), nullable=False),
    ]
)

#: metadata key stamped on rejected messages: doc_id of the admitted doc
#: that blocked them (min such owner when several buckets block).
DUP_OF = "_watermill_near_dup_of"

#: max rows the fixpoint may ever collect to the driver. The residue is
#: bounded by the micro-batch by construction, but an adversarial conflict
#: chain at a large trigger size could still materialize that whole
#: batch's banding driver-side — past this cap the filter fails LOUDLY
#: with sizing guidance instead of risking a driver OOM (r5 verdict
#: item 6 / ADVICE). Sized from measurement, not vibes: a dedup-SATURATED
#: 62.5k-doc production-trigger batch legitimately carries ~128k residue
#: band rows (~5 MB collected), so a 100k cap would refuse exactly the
#: workload the production-trigger scenario proves; 500k narrow rows is
#: ~20-30 MB on a driver that already holds far larger task/plan state.
RESIDUE_CAP = 500_000

#: residue size (rows) below which the in-batch fixpoint finishes with the
#: exact driver-side sequential pass instead of more distributed rounds.
#: The split of labor is deliberate: what scales with the CORPUS (the
#: registry joins of stage 1) stays distributed; the in-batch conflict
#: tail is bounded by the TRIGGER SIZE and its greedy-by-id resolution is
#: inherently sequential (each decision depends on all smaller ids), so
#: past stage 1 the exact python pass is both faster and simpler than
#: priority-ordered distributed rounds — a saturated 83k-doc
#: production-trigger batch's full residue is ~330k narrow rows (~13 MB
#: collected, milliseconds to resolve) vs 7-9 rounds of ~4 Spark jobs
#: each. The distributed rounds remain for residues past this threshold,
#: shrinking them until they fit (or max_rounds/residue_cap fire).
DRIVER_FINISH_ROWS = 500_000


class ResidueCapExceeded(RuntimeError):
    """The max_rounds escape hatch's driver-side residue exceeds the cap.

    Raised instead of collecting an unbounded residue. Remedies, in order:
    lower the micro-batch size (``max_files_per_trigger`` /
    ``maxOffsetsPerTrigger``) so fewer mutually-conflicting docs share one
    batch; raise ``max_rounds`` so the distributed fixpoint decides more of
    the chain before the hatch fires; or raise ``residue_cap`` if the
    driver genuinely has the memory.
    """

    def __init__(self, kind: str, rows: int, cap: int):
        super().__init__(
            f"{kind} fixpoint residue of {rows} rows exceeds "
            f"residue_cap={cap}: refusing the driver-side sequential "
            "finish. Lower the trigger size (fewer conflicting docs per "
            "micro-batch), raise max_rounds (decide more of the chain "
            "distributed), or raise residue_cap."
        )
        self.rows = rows
        self.cap = cap


class RegistryLockedError(RuntimeError):
    """Another live writer holds this registry's lease (attach refused)."""


class RegistryLeaseLost(RuntimeError):
    """This writer's lease was stolen (its heartbeat went stale past the
    TTL and another writer took over) — it must stop writing NOW."""


class RegistryLease:
    """Single-writer lease for a dedup-registry directory (r5 verdict
    item 3).

    The registries' replay idempotence (batch-keyed overwrite) assumes ONE
    attached stream per registry dir: two routers ingesting into the same
    registry could each admit a near-dup of the other's in-flight doc in
    the same instant (no coordination), and their ``batch=N`` subdirs
    would collide. This lease makes the contract ENFORCED instead of
    assumed: ``attach()`` acquires it (the second attach fails loudly with
    :class:`RegistryLockedError` — the reference analog is consumer-group
    exclusivity, `pubsub/tests/test_pubsub.go:817-842`), every micro-batch
    re-verifies ownership and heartbeats, and a writer that died is taken
    over after ``ttl`` seconds of heartbeat silence.

    Fencing honesty: the per-batch verify is checked at batch START, so a
    batch that runs longer than ``ttl`` could overlap a takeover — size
    ttl well above the worst batch duration (default 300 s vs seconds-
    scale batches). On a real deployment the registry is a Delta/Iceberg
    table whose optimistic-concurrency commit plays this role with true
    storage-level fencing; a filesystem lease is the single-node analog,
    same stance as the parquet-vs-table registry itself.
    """

    FILE = "_lease.json"

    def __init__(self, registry_dir: str, owner: str | None = None, ttl: float = 300.0):
        import uuid

        self.registry_dir = registry_dir
        self.owner = owner or uuid.uuid4().hex
        self.ttl = ttl
        self.path = os.path.join(registry_dir, self.FILE)
        self.held = False

    def _read_owner(self) -> str | None:
        import json

        try:
            with open(self.path) as fh:
                return json.load(fh).get("owner")
        except (OSError, ValueError):
            return None

    def acquire(self) -> "RegistryLease":
        import json
        import time

        os.makedirs(self.registry_dir, exist_ok=True)
        payload = json.dumps({"owner": self.owner}).encode()
        try:
            fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "wb") as fh:
                fh.write(payload)
            self.held = True
            return self
        except FileExistsError:
            pass
        # existing lease: live -> refuse; stale (no heartbeat for ttl) ->
        # steal via atomic replace, then re-read to see who won the race
        try:
            age = time.time() - os.path.getmtime(self.path)
        except OSError:
            return self.acquire()  # vanished between exists and stat
        cur = self._read_owner()
        if age <= self.ttl:
            raise RegistryLockedError(
                f"registry {self.registry_dir} is held by writer "
                f"{cur!r} (heartbeat {age:.1f}s ago, ttl {self.ttl}s): "
                "one attached stream per registry — release_lease() the "
                "other writer or wait out its ttl"
            )
        tmp = self.path + f".{self.owner}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, self.path)
        if self._read_owner() != self.owner:  # a rival stealer won
            raise RegistryLockedError(
                f"registry {self.registry_dir} takeover lost to "
                f"{self._read_owner()!r}"
            )
        self.held = True
        return self

    def verify_and_heartbeat(self) -> None:
        if not self.held:
            raise RegistryLeaseLost(
                f"registry {self.registry_dir}: lease not held"
            )
        if self._read_owner() != self.owner:
            self.held = False
            raise RegistryLeaseLost(
                f"registry {self.registry_dir}: lease stolen by "
                f"{self._read_owner()!r} (our heartbeat went stale past "
                f"ttl={self.ttl}s) — this writer must stop"
            )
        os.utime(self.path)

    def release(self) -> None:
        if self.held and self._read_owner() == self.owner:
            try:
                os.remove(self.path)
            except OSError:
                pass
        self.held = False


class _RegistryFilter:
    """Registry store and transport wiring shared by both near-dup filters.

    One subdir per micro-batch (``batch=<id>``) or compaction generation
    (``compacted-<k>``), holding one parquet part per ``PARTS`` entry
    ``(subpath, schema, compaction dedup key)`` in write order (``""`` =
    the subdir itself). A subdir is COMMITTED only when every part has
    ``_SUCCESS``, so a crash between part writes leaves it invisible.
    Subclasses add ``COMMIT_SUBDIR`` (the sink's commit dir under the
    attach checkpoint), ``_decode`` (payload → process_batch's doc frame)
    and their own candidate generation and fixpoint.
    """

    PARTS: tuple[tuple[str, StructType | str, list[str]], ...]
    COMMIT_SUBDIR: str

    def __init__(
        self,
        spark: SparkSession,
        registry_dir: str,
        max_rounds: int,
        residue_cap: int,
        driver_finish_rows: int,
    ):
        self.spark = spark
        self.registry_dir = registry_dir
        self.max_rounds = max_rounds
        self.residue_cap = residue_cap
        self.driver_finish_rows = driver_finish_rows
        #: fixpoint rounds of the most recent process_batch (introspection
        #: for tests/metrics; 0 = no in-batch conflicts or all conflicts
        #: resolved by the driver-side finisher — see last_finish_rows).
        self.last_rounds = 0
        #: residue rows the exact driver-side finisher handled in the most
        #: recent process_batch (0 = the distributed rounds drained it).
        self.last_finish_rows = 0
        self.writer_ns: str | None = None  # set by attach (_batch_dirname)
        self._lease: RegistryLease | None = None
        os.makedirs(registry_dir, exist_ok=True)

    # -- registry ---------------------------------------------------------

    def _batch_dirname(self, batch_id: int) -> str:
        """Registry subdir for one micro-batch, namespaced by the WRITER
        when attached (``batch=<ns>-<id>``, ns = stable hash of the
        checkpoint dir): two sequential routers with fresh checkpoints
        both start at batch 0, and un-namespaced dirs would make the
        successor's append OVERWRITE the predecessor's ``batch=0`` and its
        own-batch exclusion HIDE the predecessor's admissions (double-
        admit + lost admissions — found by the r6 lease handoff test).
        The ns derives from the checkpoint dir, not the lease owner, so a
        crash-restarted stream (same checkpoint, same batch_id) still
        excludes exactly its own previous write. Direct `process_batch`
        callers (batch mode) keep the plain ``batch=<id>`` names."""
        ns = self.writer_ns
        return f"batch={ns}-{batch_id}" if ns else f"batch={batch_id}"

    def _part_path(self, dirname: str, sub: str) -> str:
        return os.path.normpath(os.path.join(self.registry_dir, dirname, sub))

    def _committed(self, exclude_batch: int | None = None) -> list[str]:
        """Names of the COMMITTED subdirs, optionally minus one batch's.

        ``exclude_batch`` is the crash-replay linchpin: a batch that died
        between its registry append and its commit marker is replayed with
        the SAME batch_id, and its re-derivation must read only the PREFIX
        state — reading its own (possibly partial) previous write would
        classify its own admissions as replays, overwrite the subdir with
        an empty set, and erase them from the registry (found in review;
        pinned by test_crash_replay_same_batch_id)."""
        skip = None if exclude_batch is None else self._batch_dirname(exclude_batch)
        return [
            d
            for d in sorted(os.listdir(self.registry_dir))
            if (d.startswith("batch=") or d.startswith("compacted-"))
            and d != skip
            and all(
                os.path.exists(os.path.join(self._part_path(d, sub), "_SUCCESS"))
                for sub, _, _ in self.PARTS
            )
        ]

    def _read(self, part: str, dirs: list[str]) -> DataFrame:
        """One part's rows from the given committed subdirs (a `_committed`
        listing, taken once per micro-batch and shared by its parts)."""
        schema = next(s for sub, s, _ in self.PARTS if sub == part)
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[self._part_path(d, part) for d in dirs]
        )

    def _write(self, batch_id: int, parts: dict[str, DataFrame]) -> None:
        """Write one batch's parts in ``PARTS`` order (the last commits
        it). Overwrite is idempotent under replay BECAUSE the re-derivation
        never read this subdir: same prefix state in, same rows out."""
        d = self._batch_dirname(batch_id)
        for sub, _, _ in self.PARTS:
            parts[sub].write.mode("overwrite").parquet(self._part_path(d, sub))

    def compact_registry(self, target_files: int = 32) -> dict:
        """Merge the committed subdirs into one ``compacted-<k>``
        generation (small-files control; OPTIMIZE on a Delta/Iceberg
        registry). Call between batches (single-writer, like topic
        compact). Crash-safe: the new generation is committed FIRST, then
        the merged dirs are removed; a crash in between leaves duplicate
        rows, which change no candidate set, verdict or MIN(owner), and the
        next compaction collapses them. The ``compacted-`` prefix never
        matches process_batch's own-batch exclusion."""
        import shutil

        olds = self._committed()
        if len(olds) <= 1:
            return {"before": len(olds), "after": len(olds)}
        gen = 1 + max(
            (int(d.split("-")[1]) for d in olds if d.startswith("compacted-")),
            default=-1,
        )
        out = f"compacted-{gen}"
        for sub, schema, key in self.PARTS:
            (
                self.spark.read.schema(schema)
                .parquet(*[self._part_path(d, sub) for d in olds])
                .dropDuplicates(key)
                .repartition(target_files)
                .write.mode("overwrite")
                .parquet(self._part_path(out, sub))
            )
        for d in olds:  # only after the consolidated generation committed
            shutil.rmtree(os.path.join(self.registry_dir, d), ignore_errors=True)
        return {"before": len(olds), "after": 1}

    # -- transport wiring --------------------------------------------------

    def attach(
        self,
        pubsub,
        in_topic: str,
        out_topic: str,
        dup_topic: str,
        checkpoint_dir: str,
        trigger_available_now: bool = True,
        max_files_per_trigger: int | None = None,
        lease_ttl: float = 300.0,
    ):
        """Wire the filter between transport topics: messages on `in_topic`
        (payload as ``_decode`` reads it, metadata["doc_id"] = long) are
        admitted to `out_topic` or rejected to `dup_topic` with a
        ``DUP_OF`` metadata stamp; identity-less messages (missing or
        non-numeric doc_id) pass through to `out_topic` un-registered —
        the gate never silently drops. Returns the StreamingQuery.

        Acquires the registry's single-writer lease (see
        :class:`RegistryLease`): a second attach on the same registry dir
        raises :class:`RegistryLockedError` until this writer calls
        :meth:`release_lease` or stops heartbeating for ``lease_ttl``
        seconds. A start-up failure releases the lease before re-raising.
        """
        import hashlib

        # single-writer contract, enforced: the second attach on this registry
        # dir fails with RegistryLockedError; each batch re-verifies ownership
        # (fencing against post-TTL takeover) and heartbeats
        lease = RegistryLease(self.registry_dir, ttl=lease_ttl).acquire()
        self._lease = lease
        # namespace this writer's registry batch subdirs by its checkpoint
        # identity: stable across crash-restarts (replay exclusion still finds
        # its own previous write), distinct across writers (a successor with a
        # fresh checkpoint can never overwrite or hide a predecessor's batches)
        self.writer_ns = hashlib.md5(
            os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:8]

        def work(batch_df: DataFrame, batch_id: int) -> None:
            lease.verify_and_heartbeat()
            msgs = batch_df.localCheckpoint()
            # try_cast: a non-numeric doc_id is identity-less, not a batch
            # error (ANSI cast would throw and poison-loop the stream)
            keyed = msgs.withColumn(
                "doc_id", F.col("metadata")["doc_id"].try_cast("long")
            )
            unkeyed = keyed.filter(F.col("doc_id").isNull()).drop("doc_id")
            keyed = keyed.filter(F.col("doc_id").isNotNull())
            admitted, rejected, replayed = self.process_batch(
                self._decode(keyed), batch_id
            )
            ok = (
                keyed.join(admitted.unionByName(replayed), "doc_id", "inner")
                .drop("doc_id")
                .unionByName(unkeyed)
            )
            dup = (
                with_metadata(
                    keyed.join(rejected, "doc_id", "inner"),
                    **{DUP_OF: F.col("dup_of")},
                )
                .drop("doc_id", "dup_of")
            )
            pubsub.publish(out_topic, ok)
            pubsub.publish(dup_topic, dup)

        try:
            commit_dir = os.path.join(checkpoint_dir, self.COMMIT_SUBDIR)
            sink = IdempotentBatchSink(commit_dir, work)
            opts = {}
            if max_files_per_trigger:
                opts["max_files_per_trigger"] = max_files_per_trigger
            writer = (
                pubsub.subscribe_stream(in_topic, **opts)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(checkpoint_dir, "cp"))
            )
            if trigger_available_now:
                writer = writer.trigger(availableNow=True)
            return writer.start()
        except BaseException:
            # the query never started, so nothing else would release it
            lease.release()
            raise

    def release_lease(self) -> None:
        """Release the attach-time registry lease (graceful handoff after
        the StreamingQuery terminates)."""
        if self._lease is not None:
            self._lease.release()


class StreamingNearDupFilter(_RegistryFilter):
    """MinHash-LSH near-duplicate filter with a persistent bucket registry.

    ``process_batch(docs)`` takes a (doc_id: long, text: string) DataFrame
    and returns ``(admitted, rejected, replayed)``:

    - admitted: (doc_id) — first-seen docs, now registered;
    - rejected: (doc_id, dup_of) — near-dups of an earlier admitted doc;
    - replayed: (doc_id) — docs already admitted earlier (at-least-once
      redelivery), admitted again idempotently, not re-registered.

    Token semantics match the batch family (`analytics/dedup.py::_tokens`):
    the empty string IS a token, so empty-text docs are identical docs and
    dedupe against each other; only NULL-text docs produce no bands and are
    always admitted.
    """

    PARTS = (("", REGISTRY_SCHEMA, ["band_idx", "band_key"]),)
    COMMIT_SUBDIR = "commits-neardup"

    def __init__(
        self,
        spark: SparkSession,
        registry_dir: str,
        n_hashes: int = N_HASHES,
        band_size: int = BAND_SIZE,
        max_rounds: int = 64,
        residue_cap: int = RESIDUE_CAP,
        driver_finish_rows: int = DRIVER_FINISH_ROWS,
    ):
        super().__init__(
            spark, registry_dir, max_rounds, residue_cap, driver_finish_rows
        )
        self.n_hashes = n_hashes
        self.band_size = band_size

    def registry(self, exclude_batch: int | None = None) -> DataFrame:
        """Committed (band_idx, band_key, owner) rows (see `_committed`)."""
        return self._read("", self._committed(exclude_batch))

    @staticmethod
    def _decode(keyed: DataFrame) -> DataFrame:
        """Message payload = utf-8 document text."""
        return keyed.select(
            "doc_id",
            F.decode(F.coalesce(F.col("payload"), F.lit(b"")), "utf-8").alias(
                "text"
            ),
        )

    # -- core -------------------------------------------------------------

    def process_batch(
        self, docs: DataFrame, batch_id: int
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(doc_id long NON-NULL, text) -> (admitted, rejected, replayed).
        Null-id rows are DROPPED here (no identity to decide or attribute
        by; a null key would silently fall out of some joins and leak into
        the bandless union) — route identity-less inputs at the transport
        layer, as ``attach`` does (pass-through)."""
        # No checkpoint on docs: its only full-width consumer is the ONE
        # banding pass below (tokenless needs just the ids) — materializing
        # the text payloads again after attach() already checkpointed the
        # micro-batch cost ~1.2 s per production-size batch for nothing.
        docs = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), F.col("text")
        ).filter(F.col("doc_id").isNotNull())
        doc_ids = docs.select("doc_id").localCheckpoint()
        sigs = minhash_signatures(_spread_batch(docs), self.n_hashes)
        banded = _banded(sigs, self.n_hashes, self.band_size).localCheckpoint()

        # Stage 1: hits against the persistent registry reject immediately.
        # The current batch's own subdir is excluded so a crash-replay
        # re-derives from pure prefix state (see _committed).
        # First-batch fast path: with no committed registry there is
        # nothing to hit — skip the join/anti-join jobs entirely (~2 s of
        # a production-size batch).
        dirs = self._committed(exclude_batch=batch_id)
        reg = self._read("", dirs)
        reg_live = bool(dirs)
        if reg_live:
            hits = (
                banded.join(reg, ["band_idx", "band_key"], "inner")
                .groupBy("doc_id")
                .agg(F.min("owner").alias("dup_of"))
                .localCheckpoint()
            )
            # A doc whose every blocking bucket is owned by ITSELF was
            # admitted in an earlier batch and is being redelivered
            # (at-least-once).
            replayed = hits.filter(
                F.col("dup_of") == F.col("doc_id")
            ).select("doc_id")
            rejected_id_parts = [
                hits.filter(F.col("dup_of") != F.col("doc_id")).select("doc_id")
            ]
            # Stage 2: in-batch fixpoint — greedy first-seen-wins on the
            # slice.
            undecided = (
                banded.join(hits.select("doc_id"), "doc_id", "left_anti")
                .localCheckpoint()
            )
        else:
            replayed = self.spark.createDataFrame([], "doc_id LONG")
            rejected_id_parts = []
            undecided = banded
        admitted_parts = []
        rounds = 0
        finish_rows = 0
        finish_rej_pairs: list[tuple[int, int]] = []
        # Conflict-free fast path (same as the embedding twin): if no
        # bucket holds two undecided docs, the round is degenerate — admit
        # everything at once. One aggregation probe vs the round's ~5 jobs.
        # Only worth probing when the residue is too big for the driver
        # finisher — below that threshold the python pass absorbs the
        # conflict-free case anyway, so the probe would be a wasted job.
        if undecided.count() > min(
            self.driver_finish_rows, self.residue_cap
        ) and (
            undecided.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .count()
            == 0
        ):
            admitted_parts.append(
                undecided.select("doc_id").distinct().localCheckpoint()
            )
            undecided = self.spark.createDataFrame(
                [], "doc_id LONG, band_idx INT, band_key STRING"
            )
        while True:
            n_residue = undecided.count()
            if n_residue == 0:
                break
            # Hybrid finisher: the residue at ANY round boundary conflicts
            # only among itself (stage-1 excluded registry conflicts;
            # each round rejects everything touching a new admission), so
            # once it fits comfortably on the driver the EXACT sequential
            # pass finishes it in one go — a dedup-saturated batch needed
            # 7-9 distributed rounds (~4 jobs each) to drain the tail the
            # python pass does in milliseconds (measured: the production-
            # trigger scenario's per-batch wall was fixpoint rounds, not
            # banding). Results are identical by construction; residue_cap
            # still bounds every driver-side collect.
            if n_residue <= min(self.driver_finish_rows, self.residue_cap) or (
                rounds >= self.max_rounds and n_residue <= self.residue_cap
            ):
                finish_rows = n_residue
                adm_ids, finish_rej_pairs = _sequential_greedy_buckets(undecided)
                admitted_parts.append(_ids_df(self.spark, adm_ids))
                if rounds >= self.max_rounds:
                    # pathological chain: a 130+ doc consecutive-conflict
                    # chain can sit inside ONE topic file where no trigger
                    # setting splits it; raising would poison-loop the
                    # stream on replay, so the sequential pass absorbs it
                    _LOG.warning(
                        "near-dup fixpoint hit max_rounds=%d; finished %d "
                        "residual docs with the driver-side sequential pass",
                        self.max_rounds, len(adm_ids) + len(finish_rej_pairs),
                    )
                break
            if rounds >= self.max_rounds:
                # residue too large for the driver AND the distributed
                # rounds are exhausted: refuse loudly with sizing guidance
                # (counted BEFORE collecting — driver-OOM guard)
                raise ResidueCapExceeded("near-dup", n_residue, self.residue_cap)
            rounds += 1
            w = Window.partitionBy("band_idx", "band_key")
            marked = undecided.withColumn("bmin", F.min("doc_id").over(w))
            adm = (
                marked.groupBy("doc_id")
                .agg(F.max((F.col("doc_id") != F.col("bmin")).cast("int")).alias("blk"))
                .filter(F.col("blk") == 0)
                .select("doc_id")
                .localCheckpoint()
            )
            adm_buckets = marked.join(adm, "doc_id", "inner").select(
                "band_idx", "band_key", F.col("doc_id").alias("owner")
            )
            rest = marked.join(adm, "doc_id", "left_anti")
            rej = (
                rest.join(adm_buckets, ["band_idx", "band_key"], "inner")
                .select("doc_id")
                .distinct()
                .localCheckpoint()
            )
            undecided = (
                rest.join(rej, "doc_id", "left_anti")
                .select("doc_id", "band_idx", "band_key")
                .localCheckpoint()
            )
            admitted_parts.append(adm)
            rejected_id_parts.append(rej)
        self.last_rounds = rounds
        self.last_finish_rows = finish_rows

        spark = self.spark
        admitted_banded_ids = _union(spark, admitted_parts, "doc_id LONG")
        # Tokenless docs never appear in `banded`: no bands, no conflicts.
        # Derived from the CHECKPOINTED banded relation — the previous
        # sigs-based anti-join silently recomputed the minhash map for the
        # whole batch (measured ~1.5 s at production trigger size).
        tokenless = doc_ids.join(
            banded.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        admitted = admitted_banded_ids.unionByName(tokenless).localCheckpoint()

        new_rows = banded.join(admitted_banded_ids, "doc_id", "inner").select(
            "band_idx", "band_key", F.col("doc_id").alias("owner")
        )
        self._write(batch_id, {"": new_rows})

        # Canonical attribution: dup_of = MIN admitted owner over all of
        # the rejected doc's buckets (prefix registry ∪ this batch's
        # admissions). Split by reject class: stage-1/distributed-round
        # rejects need the join against the owned buckets; driver-finished
        # rejects were already blamed exactly by the sequential pass
        # (their buckets carry no registry owners — stage 1 removed those
        # docs — so the python owner map IS the canonical owner set).
        if rejected_id_parts or rounds:
            rejected_ids = _union(spark, rejected_id_parts, "doc_id LONG")
            all_owned = reg.unionByName(
                new_rows.select("band_idx", "band_key", "owner")
            )
            rejected_joined = (
                banded.join(rejected_ids, "doc_id", "inner")
                .join(all_owned, ["band_idx", "band_key"], "inner")
                .filter(F.col("owner") != F.col("doc_id"))
                .groupBy("doc_id")
                .agg(F.min("owner").alias("dup_of"))
            )
        else:
            rejected_joined = spark.createDataFrame([], "doc_id LONG, dup_of LONG")
        rejected = rejected_joined.unionByName(
            _pairs_df(spark, finish_rej_pairs)
        ).localCheckpoint()
        return admitted, rejected, replayed


def _spread_batch(df: DataFrame) -> DataFrame:
    """Fan a micro-batch out to the session's parallelism before the heavy
    per-doc maps (minhash / banding). A file-source micro-batch arrives
    with one partition per input FILE — at production trigger sizes
    (maxFilesPerTrigger=2, 62k docs) the signature map was running on 2 of
    32 cores, capping the filter at ~3.9k msg/s at sf5; the round-robin
    repartition costs one narrow shuffle of the raw docs (~MBs) and buys
    the full machine. No-op when the batch is already wide enough."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _union(spark: SparkSession, parts: list[DataFrame], ddl: str) -> DataFrame:
    out = spark.createDataFrame([], ddl)
    for p in parts:
        out = out.unionByName(p)
    return out


def _ids_df(spark: SparkSession, ids: list[int]) -> DataFrame:
    """doc_id LONG frame from a python id list — Arrow-batched via pandas
    (a 40k-tuple createDataFrame paid ~0.7 s of py4j row conversion)."""
    if not ids:
        return spark.createDataFrame([], "doc_id LONG")
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"doc_id": pd.array(ids, dtype="int64")})
    )


def _pairs_df(spark: SparkSession, pairs: list[tuple[int, int]]) -> DataFrame:
    """(doc_id, dup_of) LONG frame from python blame pairs, Arrow-batched."""
    if not pairs:
        return spark.createDataFrame([], "doc_id LONG, dup_of LONG")
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.array([p[0] for p in pairs], dtype="int64"),
                "dup_of": pd.array([p[1] for p in pairs], dtype="int64"),
            }
        )
    )


def _sequential_greedy_buckets(
    banded: DataFrame,
) -> tuple[list[int], list[tuple[int, int]]]:
    """EXACT driver-side greedy over a residual (doc_id, band_idx, band_key)
    set that conflicts only among itself (every external conflict was
    already resolved by stage 1 / the distributed rounds). The finisher of
    the hybrid fixpoint — bounded by driver_finish_rows/residue_cap.
    Arrow-batched transfer (toPandas): a 330k-row residue moves in ~100 ms
    where row-based collect() paid seconds of py4j serialization.

    Returns (admitted_ids, [(rejected_id, dup_of)]). The blame is computed
    over the END-of-pass owner map, which equals the canonical MIN-owner
    rule: stage 1 guarantees no residual doc touches a registry-owned
    bucket, so a residual doc's owners are exactly this pass's admissions;
    owners admitted after the doc have larger ids and can never change the
    minimum the rejecting (smaller-id) owner already set."""
    import collections

    pdf = banded.select("doc_id", "band_idx", "band_key").toPandas()
    by_doc: dict[int, set] = collections.defaultdict(set)
    for d, bi, bk in zip(pdf["doc_id"], pdf["band_idx"], pdf["band_key"]):
        by_doc[int(d)].add((int(bi), bk))
    taken: dict = {}
    adm: list[int] = []
    rej: list[int] = []
    for d in sorted(by_doc):
        if any(b in taken for b in by_doc[d]):
            rej.append(d)
        else:
            adm.append(d)
            for b in by_doc[d]:
                taken[b] = d
    rej_pairs = [
        (
            d,
            min(
                o
                for b in by_doc[d]
                if (o := taken.get(b)) is not None and o != d
            ),
        )
        for d in rej
    ]
    return adm, rej_pairs


def _sequential_greedy_edges(
    undecided: DataFrame, edges: DataFrame
) -> tuple[list[int], list[tuple[int, int]]]:
    """Edge-relation variant of `_sequential_greedy_buckets` for the
    embedding filter (conflicts are verified (a < b) pairs). Same
    (admitted, [(rejected, dup_of)]) contract; a rejected doc's blame is
    the minimum admitted smaller endpoint of its verified edges — the
    canonical rule, since stage 1 leaves no verified registry owner on a
    residual doc."""
    import collections

    und = sorted(int(d) for d in undecided.select("doc_id").toPandas()["doc_id"])
    epdf = edges.select("a", "b").toPandas()
    smaller: dict[int, list[int]] = collections.defaultdict(list)
    for a, b in zip(epdf["a"], epdf["b"]):
        smaller[int(b)].append(int(a))
    adm_set: set[int] = set()
    adm: list[int] = []
    rej_pairs: list[tuple[int, int]] = []
    for d in und:
        owners = [a for a in smaller.get(d, []) if a in adm_set]
        if owners:
            rej_pairs.append((d, min(owners)))
        else:
            adm.append(d)
            adm_set.add(d)
    return adm, rej_pairs


# -- embedding modality -------------------------------------------------------

EMB_REGISTRY_BANDS = StructType(
    [
        StructField("band_idx", IntegerType(), nullable=False),
        StructField("band_key", LongType(), nullable=False),
        StructField("owner", LongType(), nullable=False),
    ]
)
EMB_REGISTRY_VECS = "owner LONG, emb ARRAY<DOUBLE>"


class StreamingEmbeddingDedupFilter(_RegistryFilter):
    """SemDeDup-at-ingest: streaming embedding near-duplicate filter.

    The embedding-modality twin of `StreamingNearDupFilter` — together they
    cover both axes a training-data ingest gate needs (surface-form near-dups
    via MinHash over tokens; semantic near-dups via vector cosine). Reference
    analog remains the Deduplicator middleware
    (`message/router/middleware/deduplicator.go:117-129`), the exact-hash
    degenerate case of both.

    Semantics — greedy first-seen-wins on the VERIFIED conflict graph:
    processing docs in ``doc_id`` order, a doc is REJECTED iff some
    smaller-id ADMITTED doc (a) shares at least one multi-table
    bit-sampling LSH band with it (`analytics/similarity.py::
    hyperplane_bands` — axis-aligned sign bits, no float arithmetic before
    the sign test; the recall stage, cross-engine pinned by
    `q_dedup_embedding_lsh_pairs`' DuckDB parity) AND (b) has
    ``round(cosine, 6) >= tau`` against it (the precision stage — LSH
    candidates are only *likely* near; bucket collision alone must not
    reject). Admitted docs register their bands AND their vector; rejected
    docs register nothing. The admitted set equals the sequential greedy
    pass under this candidate relation whatever the micro-batch slicing
    (same fixpoint-equality contract as the text twin, pinned in
    `tests/test_streaming_embdedup.py`).

    Two-part registry, because verification needs the owners' vectors:
    ``batch=N/bands`` (band_idx, band_key, owner) joined for candidates,
    ``batch=N/vecs`` (owner, emb) joined only for the candidate owners.
    Unlike the text registry a bucket here CAN hold several owners (a
    collision whose cosine fails tau leaves both docs admitted sharing the
    band), so compaction dedups on the full (band_idx, band_key, owner)
    row. Vecs are written before bands, so a batch is committed once its
    bands part is (see `_RegistryFilter`).

    Scale notes (100 TB): the registry grows with the UNIQUE corpus —
    bands at 16 narrow rows/doc, vecs at one 64-double row/doc. A
    micro-batch pays one band equi-join (candidates), one vec fetch join
    restricted to candidate owners, and the in-batch fixpoint over its own
    conflict edges. Null, empty, null-element and all-zero embeddings are
    bandless (directionless — no semantic identity): always admitted,
    never registered.
    """

    PARTS = (
        ("vecs", EMB_REGISTRY_VECS, ["owner"]),
        ("bands", EMB_REGISTRY_BANDS, ["band_idx", "band_key", "owner"]),
    )
    COMMIT_SUBDIR = "commits-embdedup"

    def __init__(
        self,
        spark: SparkSession,
        registry_dir: str,
        tau: float | None = None,
        n_tables: int | None = None,
        n_bits: int | None = None,
        max_rounds: int = 64,
        residue_cap: int = RESIDUE_CAP,
        n_probes: int = 0,
        driver_finish_rows: int = DRIVER_FINISH_ROWS,
    ):
        from watermill_spark.analytics.similarity import (
            EMB_DEDUP_TAU,
            N_BAND_BITS,
            N_TABLES,
        )

        super().__init__(
            spark, registry_dir, max_rounds, residue_cap, driver_finish_rows
        )
        self.tau = EMB_DEDUP_TAU if tau is None else tau
        self.n_tables = N_TABLES if n_tables is None else n_tables
        self.n_bits = N_BAND_BITS if n_bits is None else n_bits
        self.n_probes = n_probes

    def registry_bands(self, exclude_batch: int | None = None) -> DataFrame:
        return self._read("bands", self._committed(exclude_batch))

    def registry_vecs(self, exclude_batch: int | None = None) -> DataFrame:
        return self._read("vecs", self._committed(exclude_batch))

    @staticmethod
    def _decode(keyed: DataFrame) -> DataFrame:
        """Message payload = utf-8 JSON array of doubles."""
        return keyed.select(
            "doc_id",
            F.from_json(
                F.decode(F.coalesce(F.col("payload"), F.lit(b"")), "utf-8"),
                "array<double>",
            ).alias("embedding"),
        )

    # -- core -------------------------------------------------------------

    def process_batch(
        self, docs: DataFrame, batch_id: int
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(doc_id long NON-NULL, embedding array<double>) -> (admitted,
        rejected, replayed); rejected carries ``dup_of`` = MIN admitted
        owner that verifies at tau — the same owner the sequential pass
        blames. Null-id rows are dropped (see the text twin's docstring);
        ``attach`` routes identity-less messages as pass-through."""
        from watermill_spark.analytics.similarity import (
            _dot,
            hyperplane_bands,
            hyperplane_bands_multiprobe,
        )

        docs = _spread_batch(
            docs.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("embedding").cast("array<double>").alias("emb"),
            ).filter(F.col("doc_id").isNotNull())
        ).localCheckpoint()
        # Null, empty AND all-zero embeddings are bandless (always admitted,
        # never registered): a zero vector has no direction — cosine against
        # it is 0/0 = NULL, which would break the replay invariant
        # (cos(self,self)=1) and make redeliveries re-register forever
        # (reviewed bug); directionless inputs carry no semantic identity
        # to dedup by, the same stance as null text in the text twin.
        #
        # n_probes > 0 widens the CANDIDATE side with single-bit multiprobe
        # keys (flip the n lowest-|margin| sign bits — the recall recovery
        # measured by q_embedding_lsh_recall_calibration). The relation is
        # directional by design: a doc's base-or-probe keys are matched
        # against OWNERS' BASE keys only (the registry stays base-only, so
        # its size is unchanged), and under id-ordered arrival the probing
        # side is always the larger id — which is exactly what the in-batch
        # pair join's `~a.is_probe` restriction reproduces, keeping the
        # slicing-invariance contract intact.
        band_arr = (
            hyperplane_bands_multiprobe(
                F.col("emb"), self.n_tables, self.n_bits, self.n_probes
            )
            if self.n_probes
            else hyperplane_bands(F.col("emb"), self.n_tables, self.n_bits)
        )
        banded = (
            docs.filter(
                F.coalesce(
                    F.exists("emb", lambda x: x != 0.0)
                    & F.forall("emb", lambda x: x.isNotNull()),
                    F.lit(False),
                )
            )
            .select("doc_id", F.explode(band_arr).alias("band"))
            .select(
                "doc_id",
                F.col("band.band_idx").alias("band_idx"),
                F.col("band.band_key").alias("band_key"),
                (
                    F.col("band.is_probe") if self.n_probes else F.lit(False)
                ).alias("is_probe"),
            )
            .localCheckpoint()
        )
        # Per-side norms are precomputed ONCE (docs_n / o_n below) instead
        # of cosine() re-deriving sqrt(dot(e,e)) and sqrt(dot(o,o)) for
        # every candidate pair (r6: 1 array fold per pair instead of 3).
        # Bit-identical: same expressions, same dot/(e_n*o_n) operand order.
        verified = (
            F.round(_dot("emb", "owner_emb") / (F.col("e_n") * F.col("o_n")), 6)
            >= self.tau
        )
        docs_n = docs.withColumn("e_n", F.sqrt(_dot("emb", "emb")))

        # Stage 1: candidates against the prefix registry, cosine-verified.
        # First-batch fast path mirrors the text twin: no committed
        # registry, nothing to hit, skip the candidate/verify jobs.
        dirs = self._committed(exclude_batch=batch_id)
        reg_live = bool(dirs)
        reg_b = self._read("bands", dirs)
        reg_v = self._read("vecs", dirs).select(
            "owner", F.col("emb").alias("owner_emb")
        ).withColumn("o_n", F.sqrt(_dot("owner_emb", "owner_emb")))
        if reg_live:
            cand = (
                banded.join(reg_b, ["band_idx", "band_key"], "inner")
                .select("doc_id", "owner")
                .distinct()
            )
            hits = (
                cand.join(docs_n, "doc_id")
                .join(reg_v, "owner")
                .filter(verified)
                .groupBy("doc_id")
                .agg(F.min("owner").alias("dup_of"))
                .localCheckpoint()
            )
            # A verified hit on ONLY the doc's own registration =
            # redelivery of an earlier-admitted doc (cos(self,self)=1; no
            # other admitted doc can verify at tau against it — it would
            # have been rejected, or the later one would have been).
            replayed = hits.filter(
                F.col("dup_of") == F.col("doc_id")
            ).select("doc_id")
            rejected_id_parts = [
                hits.filter(F.col("dup_of") != F.col("doc_id")).select("doc_id")
            ]
        else:
            hits = self.spark.createDataFrame([], "doc_id LONG, dup_of LONG")
            replayed = self.spark.createDataFrame([], "doc_id LONG")
            rejected_id_parts = []

        # Stage 2: in-batch conflict edges (a < b, shared band, verified),
        # then greedy-by-id fixpoint on that static graph: each round admits
        # every undecided doc with no undecided smaller neighbor (its edges
        # were all removed with rejected blockers), rejects neighbors of the
        # newly admitted, and restricts the edge set to the survivors. The
        # globally smallest undecided doc admits every round, so it
        # terminates; equality with the sequential pass is the same
        # induction as the text twin.
        undecided = (
            banded.select("doc_id")
            .distinct()
            .join(hits.select("doc_id"), "doc_id", "left_anti")
            .localCheckpoint()
        )
        # Semi-join to undecided BEFORE the band self-join (ADVICE r5): the
        # DISTINCT between pairs and the undecided restriction blocked join
        # pushdown, so the quadratic self-join ran at full batch size even
        # when stage-1 registry hits had already decided nearly everything
        # (the common redelivery-heavy case). Restricting the banding rows
        # first is equivalent (both endpoints must be undecided) and prunes
        # the quadratic stage to the undecided subset.
        und_banded = banded.join(undecided, "doc_id", "left_semi").localCheckpoint()
        pairs = (
            und_banded.alias("a")
            .join(
                und_banded.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                # directional multiprobe: the smaller id plays the OWNER
                # role, so only its BASE keys count — mirroring the
                # base-only registry (no-op when n_probes == 0)
                & (~F.col("a.is_probe")),
            )
            .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
            .distinct()
        )
        edges = (
            pairs.join(docs_n.select(F.col("doc_id").alias("a"), "emb", "e_n"), "a")
            .join(
                docs_n.select(
                    F.col("doc_id").alias("b"),
                    F.col("emb").alias("owner_emb"),
                    F.col("e_n").alias("o_n"),
                ),
                "b",
            )
            .filter(verified)
            .select("a", "b")
            .localCheckpoint()
        )
        admitted_parts = []
        rounds = 0
        finish_rows = 0
        finish_rej_pairs: list[tuple[int, int]] = []
        # Conflict-free fast path — the COMMON ingest case (duplicates
        # usually arrive after their originals, i.e. in different batches,
        # so in-batch verified edges are empty): admit every undecided doc
        # at once instead of paying the loop's ~4 jobs for a degenerate
        # round. `edges` is already materialized, so the emptiness probe
        # is a metadata-cheap local scan.
        if edges.limit(1).count() == 0:
            admitted_parts.append(undecided)
            undecided = self.spark.createDataFrame([], "doc_id LONG")
        while True:
            n_und = undecided.count()
            if n_und == 0:
                break
            n_residue = n_und + edges.count()
            # Hybrid finisher (same as the text twin): the residue's
            # conflicts are all inside `edges` at any round boundary, so a
            # driver-sized residue is finished by the exact sequential pass
            # instead of more ~4-job distributed rounds; residue_cap bounds
            # every collect (counted BEFORE collecting — OOM guard).
            if n_residue <= min(self.driver_finish_rows, self.residue_cap) or (
                rounds >= self.max_rounds and n_residue <= self.residue_cap
            ):
                finish_rows = n_residue
                adm_ids, finish_rej_pairs = _sequential_greedy_edges(
                    undecided, edges
                )
                admitted_parts.append(_ids_df(self.spark, adm_ids))
                if rounds >= self.max_rounds:
                    _LOG.warning(
                        "embedding near-dup fixpoint hit max_rounds=%d; "
                        "finished %d residual docs with the driver-side "
                        "sequential pass",
                        self.max_rounds, len(adm_ids) + len(finish_rej_pairs),
                    )
                break
            if rounds >= self.max_rounds:
                raise ResidueCapExceeded(
                    "embedding near-dup", n_residue, self.residue_cap
                )
            rounds += 1
            adm = (
                undecided.join(
                    edges.select(F.col("b").alias("doc_id")), "doc_id", "left_anti"
                )
                .localCheckpoint()
            )
            rej = (
                edges.join(adm.select(F.col("doc_id").alias("a")), "a")
                .select(F.col("b").alias("doc_id"))
                .distinct()
                .localCheckpoint()
            )
            undecided = (
                undecided.join(adm, "doc_id", "left_anti")
                .join(rej, "doc_id", "left_anti")
                .localCheckpoint()
            )
            edges = (
                edges.join(undecided.select(F.col("doc_id").alias("a")), "a")
                .join(undecided.select(F.col("doc_id").alias("b")), "b")
                .localCheckpoint()
            )
            admitted_parts.append(adm)
            rejected_id_parts.append(rej)
        self.last_rounds = rounds
        self.last_finish_rows = finish_rows

        spark = self.spark
        admitted_banded_ids = _union(
            spark, [p.select("doc_id") for p in admitted_parts], "doc_id LONG"
        )
        bandless = docs.select("doc_id").join(
            banded.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        admitted = admitted_banded_ids.unionByName(bandless).localCheckpoint()

        # only BASE keys are registered: the registry's size is independent
        # of n_probes (probing is a query-side cost, never a state cost)
        new_bands = (
            banded.filter(~F.col("is_probe"))
            .join(admitted_banded_ids, "doc_id", "inner")
            .select("band_idx", "band_key", F.col("doc_id").alias("owner"))
        )
        new_vecs = docs.join(admitted_banded_ids, "doc_id", "inner").select(
            F.col("doc_id").alias("owner"), "emb"
        )
        # vecs first (PARTS order): the committed-batch predicate requires
        # BOTH parts, so a crash between the writes leaves the batch invisible
        self._write(batch_id, {"vecs": new_vecs, "bands": new_bands})

        # Canonical attribution split (same reasoning as the text twin):
        # stage-1/distributed-round rejects re-verify against the full
        # owned-band set; driver-finished rejects were blamed exactly by
        # the sequential pass over the verified edge graph (no verified
        # registry owner can touch a residual doc — it would have been a
        # stage-1 hit).
        if rejected_id_parts or rounds:
            rejected_ids = _union(spark, rejected_id_parts, "doc_id LONG")
            all_bands = reg_b.unionByName(new_bands)
            all_vecs = reg_v.unionByName(
                new_vecs.select("owner", F.col("emb").alias("owner_emb"))
                .withColumn("o_n", F.sqrt(_dot("owner_emb", "owner_emb")))
            )
            rejected_joined = (
                banded.join(rejected_ids, "doc_id", "inner")
                .join(all_bands, ["band_idx", "band_key"], "inner")
                .filter(F.col("owner") != F.col("doc_id"))
                .select("doc_id", "owner")
                .distinct()
                .join(docs_n, "doc_id")
                .join(all_vecs, "owner")
                .filter(verified)
                .groupBy("doc_id")
                .agg(F.min("owner").alias("dup_of"))
            )
        else:
            rejected_joined = spark.createDataFrame([], "doc_id LONG, dup_of LONG")
        rejected = rejected_joined.unionByName(
            _pairs_df(spark, finish_rej_pairs)
        ).localCheckpoint()
        return admitted, rejected, replayed
