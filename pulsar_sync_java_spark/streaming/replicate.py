"""Structured Streaming layer — the reference's data plane re-expressed
(BASELINE.json `spark_approach`: "Structured Streaming for cross-cluster
message replication").

Reference data plane (`PulsarPartitionSyncWorker.java`):
- consume from src with Earliest initial position (:111) -> full-history
  backfill then tail == `readStream` from the earliest offset;
- per message, copy value / conditional event-time / conditional key /
  properties (:220-230) == a projection (`message_projection`);
- produce to dst, then ack src only on success (:231-244) == Spark's
  write-sink-then-commit-checkpoint contract per micro-batch
  (`replicate`): a crash between produce and commit replays the batch —
  the same at-least-once floor, upgradeable to effectively-once with
  `dedup_stream`;
- sample one MessageId pair per 60 s into a 1 h-TTL sparse map
  (:236-239, `SparseMap.java:36-53`) == windowed `min(struct)` with a
  watermark evicting window state (`sparse_mapping_stream`).

In tests a file source stands in for the Pulsar consumer (the connector
is a deploy-time `format("pulsar")` swap — same plan).  On a cluster
each source partition maps to a Spark task, preserving the reference's
per-partition ordering unit (R13).

Scale: stateful operators (windows, dedup) are keyed by
(key, window) — state size is bounded by watermark horizon, exactly the
reference's TTL-bounded maps; shuffle partitioning is by grouping key, so
hot topics rely on AQE-less streaming repartitioning — choose key
granularity (topic, partition) fine enough to spread load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

# Canonical message-table schema (SURVEY.md §1.2) as a DDL string; the
# file-source tests and the Pulsar connector deployment share it.
MESSAGE_SCHEMA = (
    "tenant string, namespace string, topic string, partition int, "
    "ledger_id long, entry_id long, batch_idx int, "
    "key string, value binary, event_time timestamp, "
    "publish_time timestamp, properties map<string,string>"
)

# The control-plane tables of a cluster directory (engine.py), keyed by
# table name.  Reading with a declared schema skips Spark's
# schema-inference job and lets an empty table directory read as zero
# rows instead of raising UNABLE_TO_INFER_SCHEMA.
CLUSTER_SCHEMAS = {
    "tenants": "tenant string",
    "namespaces": "tenant string, namespace string, policies string",
    "topics": (
        "tenant string, namespace string, topic string, partitions int, "
        "properties map<string,string>"
    ),
    "subscriptions": (
        "topic string, partition int, cursor string, ts timestamp, event_id long"
    ),
}


def message_projection(df: DataFrame) -> DataFrame:
    """R15: the per-message copy (`PulsarPartitionSyncWorker.java:220-231`)
    — value always; event_time only when set (the reference checks
    `!= 0`, :223-225); key only when non-null (:226-228); properties
    always.  Pure narrow projection: pipelines inside the source stage,
    no shuffle."""
    return df.select(
        "tenant",
        "namespace",
        "topic",
        "partition",
        "ledger_id",
        "entry_id",
        "batch_idx",
        F.when(F.col("key").isNotNull(), F.col("key")).alias("key"),
        F.col("value"),
        F.when(
            F.col("event_time").isNotNull() & (F.unix_micros("event_time") != 0),
            F.col("event_time"),
        ).alias("event_time"),
        "publish_time",
        "properties",
    )


def read_message_stream(spark, source_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based stand-in for the Pulsar consumer (R13).  Earliest
    initial position == the file source reads every existing file first;
    new files are the tail.  Deploy-time swap: `.format("pulsar")` with
    `startingOffsets=earliest`, same downstream plan."""
    reader = spark.readStream.schema(MESSAGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def replicate(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """The replication pipeline: projection -> append sink + checkpoint.

    At-least-once contract (R16): Spark writes the micro-batch to the
    sink, then commits the offset to the checkpoint — the exact
    produce-then-ack ordering of
    `PulsarPartitionSyncWorker.java:231-244` (ack at :242 only inside
    the produce-success branch).  Restart replays any batch whose
    offsets were not committed; never skips one.
    """
    return (
        message_projection(stream)
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


# Message identity: what the reference keys its dense/sparse MessageId
# maps on (`PulsarPartitionSyncWorker.java:71-74` — ledger/entry/batch
# within a topic partition).
MESSAGE_KEY = ["topic", "partition", "ledger_id", "entry_id", "batch_idx"]


def replicate_exactly_once(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    partition_col: str | None = None,
) -> DataStreamWriter:
    """Replication with a TABLE-level exactly-once guarantee:
    `foreachBatch` + keyed idempotent append (sinks/writers.py).

    `replicate` (append sink + checkpoint) is at-least-once: a crash
    between sink write and offset commit — or a lost/rebuilt
    checkpoint — replays batches into duplicates, and
    `dedup_stream` only guards within its watermark horizon.  Here
    every micro-batch anti-joins the sink on message identity before
    appending, so replays of ANY age are no-ops: an at-least-once
    transport becomes an exactly-once table.  Cost: one keys-only scan
    of the sink per micro-batch (column-pruned).

    At 100 TB pass `partition_col` (a deterministic function of message
    identity — e.g. a publish date column, or `topic`): the sink is
    written Hive-partitioned on it and each micro-batch's probe prunes
    to the partition values present in that batch, so the per-batch
    scan covers the replay horizon, not the whole sink history
    (sinks/writers.py:idempotent_append).
    """
    from pulsar_sync_java_spark.sinks.writers import idempotent_append

    keys = keys or MESSAGE_KEY
    proj = message_projection(stream)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_append(batch_df, sink_dir, keys, partition_col=partition_col)

    return (
        proj.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def sparse_mapping_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "event_time",
    id_cols: list[str] | None = None,
    interval: str = "60 seconds",
    ttl: str = "1 hour",
) -> DataFrame:
    """R17 + R24 streaming: one sample per key per interval, state
    evicted by watermark after `ttl` — the sparse MessageId map
    (`PulsarPartitionSyncWorker.java:236-239` sampling,
    `SparseMap.java:36-53` head eviction) with the empty-map/NPE bugs
    structurally impossible.

    `min(struct(ts, ids...))` is the deterministic 'first sample in
    window' (earliest ts, lowest id tie-break) and — unlike
    first()/row_number — is a proper streaming aggregate with partial
    merge.
    """
    id_cols = id_cols or ["ledger_id", "entry_id"]
    sample = F.min(F.struct(F.col(ts_col), *[F.col(c) for c in id_cols])).alias("s")
    win = F.window(F.col(ts_col), interval)
    out = (
        stream.withWatermark(ts_col, ttl)
        .groupBy(*key_cols, win.alias("w"))
        .agg(sample)
    )
    return out.select(
        *key_cols,
        F.col("w.start").alias("bucket"),
        F.col(f"s.{ts_col}").alias("sample_ts"),
        *[F.col(f"s.{c}").alias(c) for c in id_cols],
    )


def tumbling_counts_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "event_time",
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Streaming twin of q_window_tumbling / q_window_sliding:
    watermarked tumbling (or, with `slide`, hopping) window counts;
    late rows beyond the watermark are dropped (the reference has no
    late-data story at all — its TTL maps silently forget; the
    watermark makes the bound explicit)."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*key_cols, win.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(*key_cols, F.col("w.start").alias("window_start"), "n_events")
    )


def sessionize_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "event_time",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization with the native session_window operator
    (merging-window state); q_window_session is the oracle-checkable
    batch twin of this exact grouping."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*key_cols, F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *key_cols,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Effectively-once upgrade path (SURVEY.md §2 fine print): drop
    duplicate deliveries within the watermark horizon — bounded state,
    unlike a naive global dropDuplicates whose state grows forever."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def attribution_stream(
    stream: DataFrame,
    within: str = "1 hour",
    view_topic: str = "view",
    click_topic: str = "click",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every click attributed to every view
    by the same user within `within` before it — the canonical
    Structured Streaming two-sided stateful join (both sides buffered in
    the state store, watermarks bounding how long).

    Scale posture: state per side is bounded by (watermark horizon x
    arrival rate) — the interval condition lets Spark evict a buffered
    view as soon as the click-side watermark passes view_time + within,
    so state never grows with total history.  The join itself shuffles
    both sides by user_id only (hash partitioning), exactly like the
    batch formulation; event payloads cross the shuffle once.

    Equivalence contract: for data whose event-time disorder stays
    within the watermark delay, the streaming result equals the batch
    interval join on the same rows — asserted in
    tests/test_streaming.py over a bounded source.  Rows arriving more
    than `within` behind the stream's max event time are LATE by
    definition and dropped before the join state (that bound is what
    makes the state finite); a pipeline needing those pairs too widens
    the watermark delay, trading state for lateness tolerance.

    `how="left_outer"` additionally emits every UNMATCHED view with a
    null click — but only once the click-side watermark proves no
    in-horizon click can still arrive, so outer rows trail the inner
    ones by up to the watermark delay (the Structured Streaming outer-
    join contract; a bounded source's tail views, which the final
    watermark never passes, stay unemitted)."""
    v = (
        stream.where(F.col("topic") == view_topic)
        .select(
            F.col("ledger_id").alias("user_id"),
            F.col("event_time").alias("view_time"),
            F.col("entry_id").alias("view_event"),
        )
        .withWatermark("view_time", within)
    )
    c = (
        stream.where(F.col("topic") == click_topic)
        .select(
            F.col("ledger_id").alias("c_user_id"),
            F.col("event_time").alias("click_time"),
            F.col("entry_id").alias("click_event"),
        )
        .withWatermark("click_time", within)
    )
    joined = v.join(
        c,
        F.expr(
            f"""
            user_id = c_user_id
            AND click_time > view_time
            AND click_time <= view_time + INTERVAL {within}
            """
        ),
        how,
    )
    return joined.select(
        "user_id",
        "view_event",
        "click_event",
        (F.unix_micros("click_time") - F.unix_micros("view_time")).alias("lag_us"),
    )
