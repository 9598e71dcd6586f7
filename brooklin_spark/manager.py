"""PipelineManager: the reference's DMS REST layer + Coordinator collapsed
into one driver-side class (SURVEY.md §3.1 — stages 5-7 of the reference's
create path are replaced by Spark's driver/scheduler/checkpoints).

API parity with DatastreamResources (reference:
datastream-server-restli/.../dms/DatastreamResources.java):
  create (:904), get/list, pause (:358-408), resume (:554-601),
  stop (:462-552), delete; diagnostics = scatter-gather over per-query
  progress (ServerComponentHealthAggregator analog, §3.3).

Dedup-by-source parity: a new spec whose (connector, source) matches a
running pipeline reuses that pipeline's query instead of starting a second
one (SourceBasedDeduper.java:66,142-163).

Durability: specs persist as JSON files in a catalog dir (the ZooKeeper
datastream store analog, ZookeeperBackedDatastreamStore); streaming state
persists in per-pipeline checkpoint locations, so a restarted manager
resumes every READY pipeline from its last committed micro-batch — the
same at-least-once replay the reference builds by hand
(flush-then-commit, AbstractKafkaBasedConnectorTask.java:649-740).

Delivery contract: every pipeline delivers through ``_deliver`` (one
``foreachBatch`` per streaming query; once for a bounded bootstrap), so
every transport is at-least-once under one commit protocol. An epoch
commits only after all of its outputs (holding pen, dead letters,
transport) succeed; otherwise it replays, and the transport may see the
batch twice. Parquet destinations carry no ``_spark_metadata`` log, so a
replayed epoch can add duplicate files.

Paused source partitions: a running pipeline's run record (``_Running``)
holds the spec its batches read and a lock. ``_deliver`` holds the lock
for a whole batch and reads ``system.paused.partitions`` once, at its
start; a per-partition pause or resume changes the record's set, and a
resume flushes the holding pen, under the same lock. So changes apply
between micro-batches of the running query, which never restarts (the
reference applies the set before its next poll, preConsumerPollHook,
AbstractKafkaBasedConnectorTask.java:855-930): a batch uses one paused
set from start to end, and a flush is serialized with batches.

Declared stores: the holding pen and the dead-letter store are flat
parquet appends of unserialized batch rows, so both hold
``model.STORED_ENVELOPE_SCHEMA`` (the envelope, every column nullable) and
are read with it declared — a resume flush or ``dead_letters()`` launches
no schema-inference job — and ``diagnostics()`` counts dead letters from
the parquet footers without a Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from brooklin_spark.io import parquet_rows, read_parquet
from brooklin_spark.model import (
    STORED_ENVELOPE_SCHEMA,
    PipelineSpec,
    PipelineStatus,
    can_transition,
)
from brooklin_spark.sinks.registry import prepare_destination, write_batch
from brooklin_spark.sources import build_source, commit_source


def _append_parquet_in_thread(frame, path: str, errors: list) -> InheritableThread:
    """Start ``frame.write.mode("append").parquet(path)`` on a thread that
    inherits the caller's Spark local properties (job group, execution
    context). A failure is appended to ``errors`` for the caller to raise
    after the join, instead of dying with the thread."""

    def run() -> None:
        try:
            frame.write.mode("append").parquet(path)
        except Exception as e:  # re-raised by the joining thread
            errors.append(e)

    t = InheritableThread(target=run)
    t.start()
    return t


@dataclass
class _Running:
    spec: PipelineSpec
    query: StreamingQuery | None = None
    # pipelines deduped onto this one (task-sharing group members)
    group: list[str] = field(default_factory=list)
    # held by _deliver for a whole batch and by every paused-set change
    # and holding-pen flush, so the two never overlap
    lock: threading.RLock = field(default_factory=threading.RLock)


class PipelineManager:
    def __init__(self, spark: SparkSession, workdir: str, authorizer=None):
        from brooklin_spark.security import allow_all

        self.spark = spark
        self.workdir = workdir
        # Authorizer SPI (api/security/Authorizer.java parity): consulted
        # before CRUD mutations; default allows everything
        self.authorizer = authorizer or allow_all
        self.catalog_dir = os.path.join(workdir, "catalog")
        self.checkpoint_root = os.path.join(workdir, "checkpoints")
        os.makedirs(self.catalog_dir, exist_ok=True)
        os.makedirs(self.checkpoint_root, exist_ok=True)
        self._running: dict[str, _Running] = {}
        # consecutive send-failure counts per (pipeline, partition) — the
        # auto-pause trigger state (in-memory like the reference's task)
        self._send_failures: dict[tuple[str, int], int] = {}
        # engine-pushed metrics (DynamicMetricsManager analog): a
        # StreamingQueryListener that accumulates bounded per-query
        # progress; metrics_summary() merges its reduce into the
        # poll-based snapshot
        from brooklin_spark.metrics import shared as _shared_metrics

        self.metrics = _shared_metrics(spark)

    # ------------------------------------------------------------------ CRUD
    def create(
        self, spec: PipelineSpec, start: bool = True, principal: str = "anonymous"
    ) -> PipelineSpec:
        """Validate → authorize → dedup-by-source → persist → provision →
        start. Authorization is the reference's two-step create check
        (Authorizer.java:18-24): CREATE on the pipeline object, then READ
        for the owner against the data source being consumed."""
        from brooklin_spark.security import Operation, check

        spec.validate()
        check(self.authorizer, spec, Operation.CREATE, principal)
        check(
            self.authorizer, spec, Operation.READ,
            (spec.metadata or {}).get("owner", principal),
        )
        if self._spec_path_exists(spec.name):
            raise ValueError(f"pipeline {spec.name!r} already exists")
        dup = self._find_duplicate(spec)
        if dup is not None:
            # reuse the existing group's physical query (SourceBasedDeduper),
            # and assign the group's ACTUAL destination back to the new spec
            # (SourceBasedDeduper.java:142-163 reuses the found datastream's
            # destination) — otherwise the member advertises a dest_uri that
            # never receives data (ADVICE r1 #5)
            leader = self._running[dup].spec
            spec.transport = leader.transport
            spec.dest_uri = leader.dest_uri
            if leader.transport == "memory":
                # record the leader's EFFECTIVE table (defaults to its
                # name): the member must point at the view the shared
                # query actually writes, even when the leader never set
                # memory.table explicitly
                spec.metadata["memory.table"] = leader.metadata.get(
                    "memory.table", leader.name
                )
            spec.status = PipelineStatus.READY
            self._persist(spec)
            self._running[dup].group.append(spec.name)
            return spec
        spec.status = PipelineStatus.INITIALIZING
        self._persist(spec)
        self._provision_destination(spec)
        if start:
            try:
                self._start(spec)
            except Exception:
                # reject the datastream like the reference's create-path
                # validation (DatastreamResources.java:904 → 4xx, nothing
                # stored) — a connector that fails to build must not leave
                # a half-created INITIALIZING spec in the catalog
                try:
                    os.remove(self._spec_path(spec.name))
                except FileNotFoundError:
                    pass
                raise
        return spec

    def get(self, name: str) -> PipelineSpec:
        p = self._spec_path(name)
        if not os.path.exists(p):
            raise KeyError(f"no pipeline {name!r}")
        with open(p) as f:
            return PipelineSpec.from_json(f.read())

    def list(self) -> list[PipelineSpec]:
        out = []
        for fn in sorted(os.listdir(self.catalog_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.catalog_dir, fn)) as f:
                    out.append(PipelineSpec.from_json(f.read()))
        return out

    def update(self, spec: PipelineSpec, principal: str = "anonymous") -> PipelineSpec:
        """Replace a pipeline's spec and restart its physical query with
        the new config (DatastreamResources.update:208 — the reference
        rejects connector/transport/destination changes and routes status
        changes through pause/resume; same rules here). The restarted
        query resumes from the existing checkpoint, so an update is a
        config change, not a replay."""
        from brooklin_spark.security import Operation, check

        existing = self.get(spec.name)  # KeyError -> 404 at the facade
        spec.validate()
        check(self.authorizer, existing, Operation.UPDATE, principal)
        # source_uri is immutable too: it is the dedup identity AND the
        # checkpoint's file-source log references the old source's files —
        # resuming the same checkpoint against a new source replays/skips
        # the wrong offsets (reference rule: recreate, don't mutate)
        for field_name in ("connector", "transport", "dest_uri", "source_uri"):
            if getattr(spec, field_name) != getattr(existing, field_name):
                raise ValueError(
                    f"update may not change {field_name} "
                    f"(use delete + create): {getattr(existing, field_name)!r} "
                    f"-> {getattr(spec, field_name)!r}"
                )
        if spec.status == PipelineStatus.INITIALIZING:
            spec.status = existing.status  # status omitted -> inherit
        elif spec.status != existing.status:
            raise ValueError(
                "update may not change status — use pause/resume/stop"
            )
        # carry system.* runtime state (paused partitions, auto-pause,
        # inherited dirs) — the reference preserves its task state too
        for k, v in existing.metadata.items():
            if k.startswith("system.") and k not in spec.metadata:
                spec.metadata[k] = v
        r = self._running.get(spec.name)
        if r is not None and r.query is not None and existing.status == PipelineStatus.READY:
            # live streaming query: rebuild it on the new config from the
            # SAME checkpoint (config change, not replay). Persist the new
            # spec only AFTER the rebuild succeeds — if the new config
            # cannot start, roll back to the old spec and revive the OLD
            # query so a rejected update never leaves a dead pipeline
            # marked READY (review r3 #1)
            group = list(r.group)
            try:
                self._persist(spec)
                self._restart(spec)
            except Exception:
                self._persist(existing)
                cur = self._running.get(spec.name)
                if cur is None or (
                    cur.query is not None and not cur.query.isActive
                ):
                    self._running.pop(spec.name, None)
                    self._start(existing, already_ready=True, group=group)
                raise
        else:
            self._persist(spec)
            if r is not None:
                # bounded/poll pipeline: no physical rebuild (re-running
                # the bootstrap would double-deliver); next poll reads the
                # new spec
                r.spec = spec
        return spec

    def delete(self, name: str, principal: str = "anonymous") -> None:
        from brooklin_spark.security import Operation, check

        spec = self.get(name)
        check(self.authorizer, spec, Operation.DELETE, principal)
        self._transition(spec, PipelineStatus.DELETING)
        r = self._running.pop(name, None)
        promoted = False
        is_member = False
        if r is not None and r.group:
            # deleting a group LEADER with live members: promote the first
            # member instead of orphaning the group (ADVICE r1 #5 — the
            # reference's deduper keeps the shared task set alive as long
            # as any group member exists). The physical query keeps running
            # against the deleted name's checkpoint/holding/deadletter dirs,
            # so those are recorded DURABLY on the promoted spec (ADVICE r2
            # #4): a later delete/rewind of the promoted name must remove
            # THOSE dirs, not freshly-derived ones that were never used.
            new_leader = r.group[0]
            nl_spec = self.get(new_leader)
            nl_spec.metadata["system.checkpoint.dir"] = self._ckpt_dir(spec)
            nl_spec.metadata["system.holding.dir"] = self._holding_dir(spec)
            nl_spec.metadata["system.deadletter.dir"] = self._deadletter_dir(spec)
            self._persist(nl_spec)
            # re-point the live record: the query's foreachBatch holds it,
            # so its batches keep the lock and read the new leader's spec
            with r.lock:
                r.spec, r.group = nl_spec, r.group[1:]
            self._running[new_leader] = r
            promoted = True
        elif r is None:
            # maybe a group MEMBER: drop it from its leader's group list so
            # diagnostics/promotion never see a stale name
            for lr in self._running.values():
                if name in lr.group:
                    lr.group.remove(name)
                    is_member = True
                    break
        if not promoted and not is_member:
            # sole owner: tear the physical query + destination + state down
            if r and r.query is not None and r.query.isActive:
                r.query.stop()
            if spec.transport == "memory":
                from brooklin_spark.sinks.registry import drop_memory_table

                drop_memory_table(self.spark, spec.metadata.get("memory.table", name))
            shutil.rmtree(self._ckpt_dir(spec), ignore_errors=True)
        if not promoted and is_member:
            # group MEMBER delete: the destination, checkpoint and holding
            # pen all belong to the still-running group (the member's
            # metadata merely POINTS at the leader's) — tear down NOTHING
            # shared (ADVICE r2 #1: dropping the member's memory.table here
            # wiped the leader's accumulated rows). Only the spec file goes.
            os.remove(self._spec_path(name))
            return
        os.remove(self._spec_path(name))
        if not promoted:
            shutil.rmtree(self._holding_dir(spec), ignore_errors=True)
            shutil.rmtree(self._deadletter_dir(spec), ignore_errors=True)

    # ------------------------------------------------------------- lifecycle
    def _group_names(self, name: str) -> tuple[str, list[str]]:
        """(leader, all group member names incl. leader) for the dedup
        group containing ``name`` — ([name] alone if ungrouped)."""
        if name in self._running:
            return name, [name] + list(self._running[name].group)
        for leader, r in self._running.items():
            if name in r.group:
                return leader, [leader] + list(r.group)
        return name, [name]

    def pause(self, name: str, principal: str = "anonymous", force: bool = False) -> None:
        """Pause ``name`` — with ``force``, its whole dedup group
        (DatastreamResources.java:355-392: the primary must be READY, the
        rest of the group is paused best-effort). The shared physical
        query stops only when NO group member remains READY: one paused
        member must not starve its still-active siblings."""
        from brooklin_spark.security import Operation, check

        spec = self.get(name)
        check(self.authorizer, spec, Operation.UPDATE, principal)
        self._transition(spec, PipelineStatus.PAUSED)  # primary validated
        self._persist(spec)
        leader, members = self._group_names(name)
        if force:
            for other in members:
                if other == name:
                    continue
                o = self.get(other)
                if o.status == PipelineStatus.READY:  # best-effort, like the ref
                    o.status = PipelineStatus.PAUSED
                    self._persist(o)
        any_ready = any(
            self.get(m).status == PipelineStatus.READY for m in members
        )
        if not any_ready:
            r = self._running.get(leader)
            if r and r.query is not None and r.query.isActive:
                r.query.stop()

    def resume(self, name: str, principal: str = "anonymous", force: bool = False) -> None:
        from brooklin_spark.security import Operation, check

        spec = self.get(name)
        check(self.authorizer, spec, Operation.UPDATE, principal)
        # validate the PRIMARY's transition before any side effect — a
        # rejected resume must not have already flipped (and persisted)
        # sibling statuses (review r3 #4; pause() validates first too)
        if not can_transition(spec.status, PipelineStatus.READY):
            raise ValueError(
                f"illegal transition {spec.status.value} -> READY for {name!r}"
            )
        leader, members = self._group_names(name)
        if force:
            for other in members:
                if other == name:
                    continue
                o = self.get(other)
                if o.status == PipelineStatus.PAUSED:
                    o.status = PipelineStatus.READY
                    self._persist(o)
        lr = self._running.get(leader)
        query_live = lr is not None and lr.query is not None and lr.query.isActive
        if query_live:
            # the group's shared query is live (a sibling kept it running)
            # — only the status flips
            self._transition(spec, PipelineStatus.READY)
            self._persist(spec)
            return
        if name != leader:
            # member resume while the shared query is down (whole group was
            # paused): the task must run again because ONE member is READY
            # — rebuild the leader's physical query from its checkpoint
            # WITHOUT touching the leader's own PAUSED status (the
            # reference's task runs iff any group stream is READY)
            self._transition(spec, PipelineStatus.READY)
            self._persist(spec)
            self._start(self.get(leader), already_ready=True)
            return
        self._start(spec)  # transitions PAUSED/STOPPED -> READY (validated)

    def rewind(self, name: str, principal: str = "anonymous") -> None:
        """Deliberate replay: stop the query, DISCARD its checkpoint (and
        holding pen), restart from the spec's start position — the
        operator-initiated offset rewind the reference exposes through
        datastream restart with a new start position (SURVEY §2.8;
        ZookeeperCheckpointProvider state is the analog being reset).
        Downstream sees at-least-once re-delivery by design; idempotent
        sinks (materialize, keyed stores) converge, append sinks duplicate
        — the same contract as the reference's rewind."""
        from brooklin_spark.security import Operation, check

        spec = self.get(name)
        check(self.authorizer, spec, Operation.UPDATE, principal)
        r = self._running.pop(name, None)
        if r and r.query is not None and r.query.isActive:
            r.query.stop()
        shutil.rmtree(self._ckpt_dir(spec), ignore_errors=True)
        shutil.rmtree(self._holding_dir(spec), ignore_errors=True)
        # a promoted leader may have inherited another name's checkpoint/
        # holding dirs; after discarding them the rebuilt query starts on
        # dirs derived from its OWN name again (ADVICE r2 #4). The
        # DEADLETTER pointer is deliberately KEPT: its records are an
        # audit trail the rewind does not invalidate, and popping the key
        # would orphan the inherited directory while dead_letters() starts
        # resolving to an empty name-derived one (review r3 #5)
        for k in ("system.checkpoint.dir", "system.holding.dir"):
            spec.metadata.pop(k, None)
        self._persist(spec)
        if spec.status == PipelineStatus.READY:
            # preserve the dedup group across the replay (ADVICE r2 #4:
            # popping the _Running entry silently orphaned group members)
            self._start(spec, already_ready=True, group=r.group if r else None)

    def stop(self, name: str) -> None:
        spec = self.get(name)
        self._transition(spec, PipelineStatus.STOPPING)
        r = self._running.get(name)
        if r and r.query is not None and r.query.isActive:
            r.query.stop()
        spec.status = PipelineStatus.STOPPED
        self._persist(spec)

    def pause_source_partitions(self, name: str, partitions: list[int]) -> None:
        """Per-partition pause (pausedSourcePartitions REST action,
        DatastreamResources.java:604-682; applied in preConsumerPollHook,
        AbstractKafkaBasedConnectorTask.java:855-930).

        Spark has no consumer.pause() primitive (SURVEY.md §2.4 risk
        register), and a bare row filter would lose data — the source
        checkpoint advances past filtered rows. Equivalent semantics are
        rebuilt with a holding pen: the running query's foreachBatch
        delivers active-partition rows through the transport and diverts
        paused-partition rows to a durable parquet side channel; resume
        re-delivers held rows. Net effect matches the reference: paused
        partitions stop flowing, nothing is lost, resume catches up
        (at-least-once throughout).

        Like the reference, the call only changes the paused set: the spec
        is persisted and, under the run record's lock, the set the live
        query reads is replaced, so the next micro-batch applies it and
        the query never restarts. A name without a run record of its own
        (query not running, or a dedup-group member) only persists its
        spec; the set takes effect at that name's next start. A group's
        shared query applies the paused set of the spec its record holds,
        the leader's. Concurrent calls on a running pipeline compose: each
        reads, changes and persists the set under the record's lock.
        """
        self._set_paused(name, lambda paused: paused | set(partitions))

    def resume_source_partitions(self, name: str, partitions: list[int] | None = None) -> None:
        """Clear some (or all) paused source partitions and re-deliver
        their held rows through the transport before returning. The flush
        and the change of the live query's set run under the run record's
        lock, so no batch runs between them (see
        ``pause_source_partitions``)."""
        self._set_paused(
            name,
            lambda paused: paused - set(partitions) if partitions is not None else set(),
            flush=True,
        )

    def _set_paused(self, name: str, change, flush: bool = False) -> None:
        """Replace ``name``'s paused set with ``change(current set)``: persist
        the spec and hand the set to the name's run record, if it has one;
        with ``flush``, first deliver the held rows of partitions no longer
        paused. With a record, all of it runs under the record's lock, so
        it lands between two batches of the live query."""
        r = self._running.get(name)
        with r.lock if r is not None else nullcontext():
            spec = self.get(name)
            current = json.loads(spec.metadata.get("system.paused.partitions", "[]"))
            paused = sorted(change(set(current)))
            value = json.dumps(paused)
            spec.metadata["system.paused.partitions"] = value
            self._persist(spec)
            if flush:
                self._flush_holding(spec, still_paused=paused)
            if r is not None:
                r.spec.metadata["system.paused.partitions"] = value

    def paused_source_partitions(self, name: str) -> list[int]:
        spec = self.get(name)
        return list(json.loads(spec.metadata.get("system.paused.partitions", "[]")))

    # ----------------------------------------------- auto-pause / auto-resume
    def _auto_pause_conf(self, spec: PipelineSpec) -> dict | None:
        """Auto-pause-on-send-error config (KafkaBasedConnectorConfig.java:33,50:
        pauseErrorPartitionDurationMs, default 10 min; the reference pauses
        on the first send error — AbstractKafkaBasedConnectorTask.java:326)."""
        if spec.metadata.get("system.auto.pause.on.error", "false") != "true":
            return None
        return {
            "threshold": int(spec.metadata.get("system.auto.pause.error.threshold", "1")),
            "duration_ms": int(
                spec.metadata.get("system.auto.pause.duration.ms", "600000")
            ),
        }

    def auto_paused_partitions(self, name: str) -> dict[int, float]:
        """partition -> resume-at epoch-millis (the PausedSourcePartition
        Metadata.sendError state, PausedSourcePartitionMetadata.java:28-33,81)."""
        spec = self.get(name)
        raw = json.loads(spec.metadata.get("system.auto.paused.partitions", "{}"))
        return {int(k): float(v) for k, v in raw.items()}

    def _set_auto_paused(self, name: str, auto: dict[int, float]) -> None:
        spec = self.get(name)
        spec.metadata["system.auto.paused.partitions"] = json.dumps(
            {str(k): v for k, v in sorted(auto.items())}
        )
        self._persist(spec)

    def poll_auto_resume(self, name: str) -> list[int]:
        """Re-admit auto-paused partitions whose pause duration elapsed and
        re-deliver their held rows (the shouldResume check the reference
        runs in its poll loop, PausedSourcePartitionMetadata.java:55-60).
        Returns the partitions resumed. Also called at every micro-batch."""
        import time as _time

        auto = self.auto_paused_partitions(name)
        now_ms = _time.time() * 1000
        expired = sorted(p for p, t in auto.items() if t <= now_ms)
        for p in expired:
            auto.pop(p)
        spec = self.get(name)
        still = sorted(
            set(auto) | set(json.loads(spec.metadata.get("system.paused.partitions", "[]")))
        )
        r = self._running.get(name)
        try:
            # Flush the pen for every currently-unpaused partition on EVERY
            # poll — not only when an auto-pause expired (ADVICE r2 #3):
            # with threshold > 1, sub-threshold transient send failures
            # divert rows to the pen without ever tripping an auto-pause,
            # so the expired-only flush would strand them forever. The
            # record's lock serializes the flush with batches (it is
            # re-entered when a batch polls).
            with r.lock if r is not None else nullcontext():
                self._flush_holding(spec, still_paused=still)
        except Exception:
            # destination still failing: the held rows are untouched
            # (_flush_holding only prunes the pen AFTER a successful send),
            # so RE-pause the partitions for another duration instead of
            # failing the stream — the reference re-enters sendError pause
            # state the same way on a failed resume
            if expired:
                conf = self._auto_pause_conf(spec) or {"duration_ms": 600_000}
                retry_at = _time.time() * 1000 + conf["duration_ms"]
                for p in expired:
                    auto[p] = retry_at
                self._set_auto_paused(name, auto)
            return []
        if expired:
            self._set_auto_paused(name, auto)
        return expired

    def _deliver(self, batch_df, record: _Running) -> None:
        """The only send path: run per micro-batch by the query's
        foreachBatch and once by a bounded bootstrap, holding the run
        record's lock throughout and reading its spec (so its paused set)
        once, at the start. A plain batch goes straight to the transport
        (one job, no persist). Otherwise paused rows go to the holding pen,
        rows failing the predicate to the dead-letter store (skip-on-error,
        EventProducer.java:320-336) and the rest to the transport,
        auto-pausing on send error. The side appends run as concurrent jobs
        over the one persisted batch, each on an InheritableThread so it
        keeps the query's job group (query.stop() cancels it); all join
        before return and the first failure is re-raised, so the epoch
        replays. Outputs configured into one directory share one job: two
        writers must never commit into the same directory at once."""
        from pyspark.sql import functions as F

        with record.lock:
            spec = record.spec
            paused = [
                int(p) for p in json.loads(spec.metadata.get("system.paused.partitions", "[]"))
            ]
            pred = spec.metadata.get("system.deadletter.predicate")
            auto = self._auto_pause_conf(spec)
            if not (paused or pred or auto):
                write_batch(batch_df, spec, self.spark)
                return
            hd, dl = self._holding_dir(spec), self._deadletter_dir(spec)
            batch_df.persist()
            errors: list[Exception] = []
            threads = {}
            try:
                side = {}
                rest = batch_df
                if paused:
                    side[hd] = rest.filter(F.col("partition").isin(paused))
                    rest = rest.filter(~F.col("partition").isin(paused))
                if pred:
                    bad = rest.filter(~F.expr(pred))
                    side[dl] = side[dl].unionByName(bad) if dl in side else bad
                    rest = rest.filter(F.expr(pred))
                for path, frame in side.items():
                    threads[path] = _append_parquet_in_thread(frame, path, errors)
                if auto:
                    # the auto-pause path appends to the holding pen too; its
                    # per-partition sends stay sequential
                    if hd in threads:
                        threads[hd].join()
                    self._deliver_with_auto_pause(spec, rest, auto, hd)
                else:
                    write_batch(rest, spec, self.spark)
            finally:
                for t in threads.values():
                    t.join()
                batch_df.unpersist()
            if errors:
                raise errors[0]

    def _deliver_with_auto_pause(
        self, spec: PipelineSpec, rest, conf: dict, hd: str
    ) -> None:
        """Deliver per partition; a failing partition's rows divert to the
        durable holding pen (no loss) and the partition auto-pauses with a
        resume-at timestamp once its consecutive failures hit the threshold."""
        import time as _time

        from pyspark.sql import functions as F

        self.poll_auto_resume(spec.name)
        auto = self.auto_paused_partitions(spec.name)
        if auto:
            held = rest.filter(F.col("partition").isin(sorted(auto)))
            held.write.mode("append").parquet(hd)
            rest = rest.filter(~F.col("partition").isin(sorted(auto)))
        parts = sorted(r.partition for r in rest.select("partition").distinct().collect())
        for p in parts:
            slice_df = rest.filter(F.col("partition") == p)
            try:
                write_batch(slice_df, spec, self.spark)
                self._send_failures.pop((spec.name, p), None)
            except Exception:
                n = self._send_failures.get((spec.name, p), 0) + 1
                self._send_failures[(spec.name, p)] = n
                slice_df.write.mode("append").parquet(hd)  # held, not lost
                if n >= conf["threshold"]:
                    auto = self.auto_paused_partitions(spec.name)
                    auto[p] = _time.time() * 1000 + conf["duration_ms"]
                    self._set_auto_paused(spec.name, auto)
                    self._send_failures.pop((spec.name, p), None)

    def _restart(self, spec: PipelineSpec) -> None:
        """Stop the running query (if any) and rebuild it from the same
        checkpoint; status and dedup group are unchanged (READY stays READY)."""
        r = self._running.pop(spec.name, None)
        if r and r.query is not None and r.query.isActive:
            r.query.stop()
        if spec.status == PipelineStatus.READY:
            self._start(spec, already_ready=True, group=r.group if r else None)

    def _provision_destination(self, spec: PipelineSpec) -> None:
        """Destination provisioning (KafkaTransportProviderAdmin.java:69-73,
        196-231: create the destination topic with dest partition count,
        retention 14 d, min.insync.replicas 2). No-op unless the transport
        is kafka AND a kafka admin client is importable — the container
        bundles neither a broker nor the client lib, so this is the gated
        integration point, exercised when deployed next to a real cluster.
        """
        if spec.transport != "kafka" or not spec.dest_uri:
            return
        try:  # pragma: no cover - kafka client not in this container
            from kafka.admin import KafkaAdminClient, NewTopic  # type: ignore
        except ImportError:
            return
        dest = spec.dest_uri.removeprefix("kafka://")  # pragma: no cover
        servers, _, topic = dest.partition("/")
        if not topic:
            return
        admin = KafkaAdminClient(bootstrap_servers=servers)
        try:
            admin.create_topics(
                [
                    NewTopic(
                        name=topic,
                        num_partitions=spec.dest_partitions
                        or spec.source_partitions
                        or 1,
                        replication_factor=1,
                        topic_configs={
                            "retention.ms": str(14 * 24 * 3600 * 1000),
                            "min.insync.replicas": "2",
                        },
                    )
                ]
            )
        except Exception:
            pass  # topic exists — reuse (TopicAlreadyMarkedForDeletion etc.)
        finally:
            admin.close()

    def _ckpt_dir(self, spec: PipelineSpec) -> str:
        """The checkpoint dir this pipeline's query PHYSICALLY uses — a
        promoted group leader keeps running on the deleted leader's dir,
        recorded in metadata (ADVICE r2 #4)."""
        return spec.metadata.get("system.checkpoint.dir") or os.path.join(
            self.checkpoint_root, spec.name
        )

    def _holding_dir(self, spec: PipelineSpec) -> str:
        return spec.metadata.get("system.holding.dir") or os.path.join(
            self.workdir, "holding", spec.name
        )

    def _deadletter_dir(self, spec: PipelineSpec) -> str:
        return spec.metadata.get("system.deadletter.dir") or os.path.join(
            self.workdir, "deadletter", spec.name
        )

    def _dead_letter_store(self, name: str) -> str | None:
        """The pipeline's dead-letter dir, or None while it holds no rows."""
        try:
            dl = self._deadletter_dir(self.get(name))
        except KeyError:  # deleted pipeline: check the default location
            dl = os.path.join(self.workdir, "deadletter", name)
        if not os.path.isdir(dl) or not any(
            f.endswith(".parquet") for f in os.listdir(dl)
        ):
            return None
        return dl

    def dead_letters(self, name: str):
        """The skipped-record store as a DataFrame (None if empty) — the
        queryable twin of the reference's skip counter."""
        dl = self._dead_letter_store(name)
        if dl is None:
            return None
        return read_parquet(self.spark, dl, STORED_ENVELOPE_SCHEMA)

    def _flush_holding(self, spec: PipelineSpec, still_paused: list[int]) -> None:
        """Deliver held rows for resumed partitions; keep the rest held.
        The rows to deliver are counted from the pen's files without a
        Spark job, so nothing is sent when none are held and a materialize
        merge runs no empty-batch probe."""
        import pyarrow.dataset as pads
        from pyspark.sql import functions as F

        hd = self._holding_dir(spec)
        if not os.path.isdir(hd) or not any(
            f.endswith(".parquet") for f in os.listdir(hd)
        ):
            return
        # from the footers, or the partition column when some stay held
        rows = (
            pads.dataset(hd, format="parquet").count_rows(
                filter=~pads.field("partition").isin(still_paused)
            )
            if still_paused
            else parquet_rows(hd)
        )
        if rows:
            held = read_parquet(self.spark, hd, STORED_ENVELOPE_SCHEMA)
            deliver = held.filter(~F.col("partition").isin(still_paused)) if still_paused else held
            write_batch(deliver, spec, self.spark, rows=rows)
            if still_paused:
                remain = held.filter(F.col("partition").isin(still_paused))
                tmp = hd + ".tmp"
                remain.write.mode("overwrite").parquet(tmp)
                shutil.rmtree(hd)
                os.replace(tmp, hd)
        if not still_paused:
            shutil.rmtree(hd)

    def restore(self) -> int:
        """Restart every READY pipeline from its checkpoint (manager restart
        = the reference's instance rejoin + task reassign)."""
        n = 0
        for spec in self.list():
            if spec.status == PipelineStatus.READY and spec.name not in self._running:
                self._start(spec, already_ready=True)
                n += 1
        return n

    # ------------------------------------------------------------ monitoring
    def query_of(self, name: str) -> StreamingQuery | None:
        r = self._running.get(name)
        return r.query if r else None

    def process_available(self, name: str) -> None:
        """Drain everything currently readable (test/bootstrap helper)."""
        q = self.query_of(name)
        if q is not None:
            q.processAllAvailable()

    def poll(self, name: str) -> None:
        """Drive one poll of a snapshot-diff connector (dirwatch) through
        the transport — the Spark-side analog of the reference's watcher
        thread iteration (DirectoryChangeProcessor.java:89-140): diff the
        source, send the change batch, advance the snapshot state."""
        spec = self.get(name)
        df = build_source(self.spark, spec)
        if df.isStreaming:
            raise ValueError(f"poll() is for bounded/poll connectors, {name!r} streams")
        write_batch(df, spec, self.spark)
        # commit the connector's read position ONLY after the batch landed
        # (ADVICE r2 #2: advancing the dirwatch snapshot inside
        # build_source() made a failed send lose the diff forever — the
        # holding-pen no-loss contract, applied to the source side)
        commit_source(spec)

    def diagnostics(self) -> list[dict]:
        """Scatter-gather health/progress across pipelines (the /diag
        analog, DiagnosticsAware process/reduce — SURVEY.md §3.3)."""
        out = []
        for spec in self.list():
            r = self._running.get(spec.name)
            q = r.query if r else None
            prog = q.lastProgress if q is not None else None
            out.append(
                {
                    "name": spec.name,
                    "status": spec.status.value,
                    "active": bool(q is not None and q.isActive),
                    "batch_id": prog.get("batchId") if prog else None,
                    "num_input_rows": prog.get("numInputRows") if prog else None,
                    "group": list(r.group) if r else [],
                    "dead_letters": (
                        parquet_rows(dl)
                        if (dl := self._dead_letter_store(spec.name)) is not None
                        else 0
                    ),
                    # pausedSourcePartitions surface (manual + auto with
                    # resume-at, the /datastream diag payload analog)
                    "paused_partitions": self.paused_source_partitions(spec.name),
                    "auto_paused": self.auto_paused_partitions(spec.name),
                }
            )
        return out

    def metrics_summary(self) -> dict:
        """Cluster-level reduce over per-pipeline progress (the
        KafkaConnectorDiagUtils.reduce / ServerComponentHealthAggregator
        analog, SURVEY.md §3.3): aggregate throughput and batch counts
        across every running query."""
        total_rows = 0.0
        rates = []
        active = 0
        batches = 0
        for spec in self.list():
            r = self._running.get(spec.name)
            q = r.query if r else None
            if q is None:
                continue
            if q.isActive:
                active += 1
            for prog in q.recentProgress:
                total_rows += prog.get("numInputRows") or 0
                batches += 1
                rate = prog.get("processedRowsPerSecond")
                if rate:
                    rates.append(rate)
        out = {
            "pipelines": len(self.list()),
            "active_queries": active,
            "recent_batches": batches,
            "recent_input_rows": int(total_rows),
            "mean_processed_rows_per_sec": (sum(rates) / len(rates)) if rates else 0.0,
        }
        # merge the listener's lifetime reduce (survives recentProgress's
        # rolling window): totals + batch-latency percentiles
        out["listener"] = self.metrics.summary()
        return out

    # --------------------------------------------------------------- private
    def _find_duplicate(self, spec: PipelineSpec) -> str | None:
        ident = spec.source_identity()
        for name, r in self._running.items():
            if r.spec.source_identity() == ident:
                return name
        return None

    def _start(
        self,
        spec: PipelineSpec,
        already_ready: bool = False,
        group: list[str] | None = None,
    ) -> None:
        # Validate the lifecycle transition BEFORE any side effect (ADVICE
        # r1 #3): resume() on an already-READY pipeline must fail here, not
        # after re-running a bounded bootstrap (duplicating the whole write)
        # or attempting a duplicate query start against the same checkpoint.
        if not already_ready and not can_transition(spec.status, PipelineStatus.READY):
            raise ValueError(
                f"illegal transition {spec.status.value} -> ready "
                f"for pipeline {spec.name!r}"
            )
        existing = self._running.get(spec.name)
        if existing is not None and (
            existing.query is None or existing.query.isActive
        ):
            raise ValueError(f"pipeline {spec.name!r} is already running")
        # carry the dedup group through restarts (pause/resume, _restart,
        # rewind) — rebuilding _Running with an empty group orphaned the
        # members (ADVICE r2 #4)
        if group is None:
            group = existing.group if existing is not None else []
        df = build_source(self.spark, spec)
        prepare_destination(df, spec, self.spark)
        # registered before the query starts: its first batch already takes
        # the lock, and a partition pause from here on changes this record
        # (its spec is ``spec``), so the persist below keeps the new set
        record = _Running(spec=spec, group=list(group))
        self._running[spec.name] = record
        try:
            if df.isStreaming:
                # data-path counters (EventProducer meter parity): one
                # map-side aggregate riding the existing job, delivered per
                # micro-batch to the MetricsStore via observedMetrics
                from brooklin_spark.metrics import observe_counters

                record.query = (
                    observe_counters(df)
                    .writeStream.foreachBatch(
                        lambda batch_df, _epoch: self._deliver(batch_df, record)
                    )
                    .option("checkpointLocation", self._ckpt_dir(spec))
                    .queryName(spec.name)
                    .start()
                )
            else:
                # bounded bootstrap: the same delivery, then advance the
                # connector's position post-send; auto-pause may have recorded
                # paused partitions on disk, which the persist below must keep
                self._deliver(df, record)
                commit_source(spec)
                spec.metadata = self.get(spec.name).metadata
        except BaseException:
            if existing is not None:
                self._running[spec.name] = existing
            else:
                self._running.pop(spec.name, None)
            raise
        with record.lock:
            if not already_ready:
                self._transition(spec, PipelineStatus.READY)
            self._persist(spec)

    def _transition(self, spec: PipelineSpec, dst: PipelineStatus) -> None:
        if not can_transition(spec.status, dst):
            raise ValueError(
                f"illegal transition {spec.status.value} -> {dst.value} "
                f"for pipeline {spec.name!r}"
            )
        spec.status = dst

    def _spec_path(self, name: str) -> str:
        return os.path.join(self.catalog_dir, f"{name}.json")

    def _spec_path_exists(self, name: str) -> bool:
        return os.path.exists(self._spec_path(name))

    def _persist(self, spec: PipelineSpec) -> None:
        tmp = self._spec_path(spec.name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(spec.to_json())
        os.replace(tmp, self._spec_path(spec.name))
