"""SyncEngine — the reference's user-facing surface (`PulsarSync`),
re-expressed over directory-backed clusters.

Reference API (`PulsarSync.java:37-51`): construct with src/dst
`PulsarConfig` + `SyncConfig`, call `start()`; the object then keeps
catalogs, messages and cursors converging src -> dst.  The engine
equivalent replaces broker endpoints with a *cluster directory*
convention (what a Pulsar connector would bind to at deploy time):

    <cluster>/tenants.parquet        tenant catalog
    <cluster>/namespaces.parquet     (tenant, namespace, policies)
    <cluster>/topics.parquet         (tenant, namespace, topic,
                                      partitions, properties)
    <cluster>/messages/              data plane, MESSAGE_SCHEMA parquet
    <cluster>/subscriptions.parquet  cursors: (topic, partition, cursor,
                                      ts, event_id)

and the three reference loops become three engine methods:

| reference loop (cadence)                  | engine method            |
|-------------------------------------------|--------------------------|
| catalog managers, 3-min rescan (R25)      | `sync_catalog_once()`    |
| per-partition message workers (R13-R16)   | `start_replication()`    |
| `syncCursor`, 10-s rescan (R19-R23)       | `sync_cursors_once()`    |

Semantics preserved (SURVEY.md §2 fine print): additive-only
convergence, idempotent conflict-tolerant applies, produce-then-ack
at-least-once replication (checkpoint commit), sampled mapping +
floor/as-of cursor translation (replay-only error), create-once
cursors.

Scale notes: the control plane is append-only — a tick appends exactly
the rows it creates and never rewrites a row.  Each catalog level
anti-joins src against the current dst and collects only its inserts
(as Arrow), so only created rows reach the driver, which appends them
as one parquet file written under a hidden name and renamed into place:
a table never holds a partial file, and no Spark write job runs for a
handful of rows.  (Cluster directories are therefore local or mounted
paths, as the `os.path` handling throughout assumes.)  Catalogs stay
unique by key because the anti-join keeps a created row from being
appended again — the reference's create-then-tolerate-conflict
(`PulsarTenantSyncManager.java:64-88`).  Subscriptions are versioned: a
cursor advance appends a new row for its key, and the newest version
(max `ts`, then `event_id`) wins.  A crash therefore leaves a prefix of
a tick's appends, which the next tick completes.  Every cluster table
is read with a declared schema (`streaming.replicate.CLUSTER_SCHEMAS`,
`MESSAGE_SCHEMA`), so no read launches a schema-inference job and a
missing or empty table reads as zero rows.  The DATA plane never
touches the driver: the replication stream and the mapping/cursor plans
are pure DataFrame/Structured Streaming.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_sync_java_spark.plans.catalog_diff import diff_catalogs
from pulsar_sync_java_spark.plans.cursor_translate import (
    latest_cursor,
    pending_creates,
    sparse_sample,
    translate,
)
from pulsar_sync_java_spark.sources.tables import ensure_session_confs
from pulsar_sync_java_spark.streaming.replicate import (
    CLUSTER_SCHEMAS,
    MESSAGE_SCHEMA,
    read_message_stream,
    replicate,
)

CURSOR_KEY = ["topic", "partition", "cursor"]
_CATALOGS = ("tenants", "namespaces", "topics")


@dataclass(frozen=True)
class SyncEngineConfig:
    """`SyncConfig.java:29-41` equivalent (`autoUpdatePartition` is
    declared there but never read — SURVEY.md §2 dead surface; partition
    discovery here is inherent to the streaming source)."""

    subscription_name: str = "pulsar-sync"
    auto_update_tenant: bool = True
    auto_update_namespace: bool = True
    auto_update_topic: bool = True
    sample_interval: str = "60 seconds"
    # Opt-in improvement over the reference: after creation the
    # reference never moves a cursor again (SURVEY.md §2 fine print —
    # the R23 reset path is dead in practice).  With this flag,
    # `sync_cursors_once` also advances existing dst cursors forward
    # (never backward) as the src cursor progresses, appending each
    # move as a new version of the cursor (the newest version wins).
    advance_cursors: bool = False


class SyncEngine:
    """One engine instance per (src cluster, dst cluster) pair."""

    def __init__(
        self,
        spark: SparkSession,
        src_dir: str,
        dst_dir: str,
        config: SyncEngineConfig | None = None,
    ) -> None:
        ensure_session_confs(spark)
        self.spark = spark
        self.src = src_dir.rstrip("/")
        self.dst = dst_dir.rstrip("/")
        self.config = config or SyncEngineConfig()
        # advancement count of the most recent cursor tick (kept off the
        # sync_cursors_once return value so creates-only remains the
        # idempotency signal)
        self.last_advanced = 0

    # -- cluster tables -----------------------------------------------

    def _read_path(self, path: str, schema: str) -> DataFrame:
        """Read a cluster table with its declared schema; a missing
        directory reads as zero rows, like an empty one."""
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(path)

    def _read(self, cluster: str, name: str) -> DataFrame:
        return self._read_path(
            os.path.join(cluster, f"{name}.parquet"), CLUSTER_SCHEMAS[name]
        )

    def _append(self, name: str, rows: pa.Table) -> int:
        """Append already-collected rows to a dst table as one new
        parquet file, writing nothing when there are none.  The file is
        written under a hidden name, which readers skip, and renamed
        into place, so a crash leaves either the whole file or none of
        it.  Returns the number of rows appended."""
        if rows.num_rows:
            directory = os.path.join(self.dst, f"{name}.parquet")
            os.makedirs(directory, exist_ok=True)
            part = f"part-{uuid.uuid4().hex}.parquet"
            tmp = os.path.join(directory, f".{part}.tmp")
            pq.write_table(rows, tmp)
            os.rename(tmp, os.path.join(directory, part))
        return rows.num_rows

    # -- catalog plane ------------------------------------------------

    def sync_catalog_once(self) -> dict[str, int]:
        """One control-plane tick (the reference's 3-min rescan body):
        per level, one anti-join of src against the current dst, whose
        inserts are collected and appended.  Returns the number of
        creates per level — all zero on a converged pair, and on every
        re-run after (idempotency)."""
        enabled = {
            "tenants": self.config.auto_update_tenant,
            "namespaces": self.config.auto_update_namespace,
            "topics": self.config.auto_update_topic,
        }
        diff = diff_catalogs(
            *(self._read(c, name) for c in (self.src, self.dst) for name in _CATALOGS)
        )
        return {
            name: self._append(name, getattr(diff, name).toArrow())
            if enabled[name]
            else 0
            for name in _CATALOGS
        }

    # -- data plane ---------------------------------------------------

    def start_replication(self, available_now: bool = True):
        """The per-partition worker pipeline (R13-R16): src message
        stream -> projection -> dst sink, offsets committed to the
        checkpoint only after the sink write — produce-then-ack.
        Continuous deployments pass available_now=False and a
        processingTime trigger upstream."""
        stream = read_message_stream(self.spark, os.path.join(self.src, "messages"))
        writer = replicate(
            stream,
            os.path.join(self.dst, "messages"),
            os.path.join(self.dst, "_checkpoints", "replication"),
        )
        if available_now:
            return writer.trigger(availableNow=True).start()
        return writer.start()

    def build_mapping(self) -> DataFrame:
        """R17: the sampled MessageId mapping, from the REPLICATED
        messages (a mapping entry must point at a position that exists
        on dst).  One sample per (topic, partition) per interval."""
        msgs = self._read_path(os.path.join(self.dst, "messages"), MESSAGE_SCHEMA)
        return sparse_sample(
            msgs.select(
                "topic",
                "partition",
                F.col("event_time").alias("ts"),
                F.col("entry_id").alias("event_id"),
            ),
            key_cols=["topic", "partition"],
            interval=self.config.sample_interval,
        )

    # -- cursor plane -------------------------------------------------

    def _translated(self) -> DataFrame:
        """Src cursors floor-translated through the sampled mapping.  A
        cursor with no floor sample at-or-before it yet is left out this
        tick (the reference's findMessageId miss; replication will
        sample more of the mapping and a later tick resolves it)."""
        return translate(
            self._read(self.src, "subscriptions"),
            self.build_mapping(),
            key_cols=["topic", "partition"],
            carry_cols=["cursor"],
        ).filter(F.col("translated_id").isNotNull())

    def sync_cursors_once(self) -> int:
        """One `syncCursor` tick (R19-R23): src subscription snapshot ->
        as-of floor translation against the sampled mapping ->
        create-once anti-join -> append creates to dst.  Returns the
        number of cursors CREATED (0 when converged) — advancement of
        existing cursors (`advance_cursors=True`) runs in the same tick
        but is reported separately by `run_once` so the idempotency
        signal stays unambiguous."""
        translated = self._translated()
        creates = pending_creates(
            translated, self._read(self.dst, "subscriptions"), key_cols=CURSOR_KEY
        ).select(
            *CURSOR_KEY,
            F.col("translated_ts").alias("ts"),
            F.col("translated_id").alias("event_id"),
        )
        n = self._append("subscriptions", creates.toArrow())
        self.last_advanced = (
            self.advance_cursors_once(translated)
            if self.config.advance_cursors
            else 0
        )
        return n

    def advance_cursors_once(self, translated: DataFrame | None = None) -> int:
        """Opt-in continuous cursor advancement (SURVEY.md §2 fine
        print): the reference freezes a cursor at its creation position
        — its R23 reset path is skipped whenever dst already has the
        subscription (`PulsarPartitionSyncWorker.java:190-192`), which
        it always does after create.  Here, an existing dst cursor
        moves FORWARD to the newest translated floor position when the
        src cursor has progressed.

        Monotone by construction (`translated_ts > dst.ts` guard against
        the newest dst version of each cursor): a src cursor that moved
        backward, or a mapping floor behind the already-created
        position, never regresses dst — the replay-only safety property
        is preserved in both directions.  Each move is appended as a new
        version of its cursor; returns the number of cursors moved.
        """
        if translated is None:
            translated = self._translated()
        current = latest_cursor(self._read(self.dst, "subscriptions"), CURSOR_KEY)
        moved = (
            translated.alias("t")
            .join(current.alias("d"), on=CURSOR_KEY, how="inner")
            .filter(F.col("t.translated_ts") > F.col("d.ts"))
            .select(
                *CURSOR_KEY,
                F.col("t.translated_ts").alias("ts"),
                F.col("t.translated_id").alias("event_id"),
            )
        )
        return self._append("subscriptions", moved.toArrow())

    # -- orchestration --------------------------------------------------

    def run_once(self) -> dict[str, int]:
        """One full availableNow convergence pass: catalog tick,
        replication to completion, cursor tick — the test-mode analogue
        of `PulsarSync.start()` (which schedules the same three bodies
        at 3 min / continuous / 10 s).  'cursors' counts CREATES only
        (all-zero dict = converged, idempotent pass); forward moves of
        existing cursors are reported under 'cursors_advanced' when
        `advance_cursors` is enabled."""
        created = self.sync_catalog_once()
        q = self.start_replication(available_now=True)
        q.awaitTermination(600)
        created["cursors"] = self.sync_cursors_once()
        if self.config.advance_cursors:
            created["cursors_advanced"] = self.last_advanced
        return created
