"""End-to-end SyncEngine convergence tests — the reference's own test
strategy (SURVEY.md §5: arrange on src -> run the system -> assert
observable state on dst), with `availableNow` + awaitTermination in
place of dual embedded brokers + Awaitility.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pulsar_sync_java_spark.engine import SyncEngine, SyncEngineConfig
from pulsar_sync_java_spark.plans.catalog_diff import (
    NAMESPACE_KEY,
    TENANT_KEY,
    TOPIC_KEY,
)
from tests.test_streaming import build_messages


def _write_catalog(spark, cluster: str, tenants, namespaces, topics, subs):
    spark.createDataFrame(tenants, "tenant string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(cluster, "tenants.parquet"))
    spark.createDataFrame(
        namespaces, "tenant string, namespace string, policies string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(cluster, "namespaces.parquet")
    )
    spark.createDataFrame(
        topics,
        "tenant string, namespace string, topic string, partitions int, "
        "properties map<string,string>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(cluster, "topics.parquet")
    )
    spark.createDataFrame(
        subs, "topic string, partition int, cursor string, ts timestamp, event_id long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(cluster, "subscriptions.parquet")
    )


def _newest_cursors(spark, cluster: str) -> dict:
    """(topic, partition, cursor) -> ts of each cursor's newest version
    (max ts, then event_id): subscriptions are versioned, newest wins."""
    newest: dict = {}
    path = os.path.join(cluster, "subscriptions.parquet")
    for r in spark.read.parquet(path).collect():
        k = (r.topic, r.partition, r.cursor)
        newest[k] = max(newest.get(k, (r.ts, r.event_id)), (r.ts, r.event_id))
    return {k: ts for k, (ts, _) in newest.items()}


@pytest.fixture(scope="module")
def clusters(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("clusters")
    src, dst = str(root / "src"), str(root / "dst")

    msgs = build_messages(spark)
    msgs.repartition(2).write.mode("overwrite").parquet(
        os.path.join(src, "messages")
    )
    # src subscriptions: one cursor per topic at that topic's latest
    # partition-0 event (renamed: the engine's subscription schema uses
    # ts/event_id like the mapping)
    latest = (
        msgs.filter(F.col("partition") == 0)
        .groupBy("topic")
        .agg(
            F.max_by(
                F.struct(
                    F.col("event_time").alias("ts"),
                    F.col("entry_id").alias("event_id"),
                ),
                F.struct("event_time", "entry_id"),
            ).alias("s")
        )
        .select(
            "topic", F.lit(0).alias("partition"), F.lit("sub-a").alias("cursor"),
            F.col("s.ts").alias("ts"), F.col("s.event_id").alias("event_id"),
        )
    )
    topics = [
        (r.topic,) for r in msgs.select("topic").distinct().collect()
    ]
    _write_catalog(
        spark,
        src,
        [("public",), ("analytics",)],
        [("public", "default", '{"retention": "1h"}'), ("analytics", "raw", "{}")],
        [("public", "default", t, 4, {"owner": "sync"}) for (t,) in topics],
        [
            (r.topic, r.partition, r.cursor, r.ts, r.event_id)
            for r in latest.collect()
        ],
    )
    # dst: partially-populated catalogs (one tenant already there),
    # empty messages/subscriptions
    _write_catalog(spark, dst, [("public",)], [], [], [])
    os.makedirs(os.path.join(dst, "messages"), exist_ok=True)
    return src, dst


@pytest.mark.slow
def test_engine_converges_and_is_idempotent(spark, clusters):
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig())

    created = engine.run_once()
    # catalog convergence: dst ⊇ src at every level, additive only
    for name in ("tenants", "namespaces", "topics"):
        s = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
        d = spark.read.parquet(os.path.join(dst, f"{name}.parquet"))
        assert s.join(d, s.columns[:2], "left_anti").count() == 0, name
    assert created["tenants"] == 1  # 'analytics' was missing
    assert created["namespaces"] == 2 and created["topics"] > 0

    # message convergence: every src message replicated, none duplicated
    src_msgs = spark.read.parquet(os.path.join(src, "messages"))
    dst_msgs = spark.read.parquet(os.path.join(dst, "messages"))
    assert dst_msgs.count() == src_msgs.count()

    # cursors created at translated (floor) positions: ts <= src ts
    subs = spark.read.parquet(os.path.join(dst, "subscriptions.parquet"))
    src_subs = spark.read.parquet(os.path.join(src, "subscriptions.parquet"))
    assert created["cursors"] == subs.count() > 0
    j = subs.alias("d").join(
        src_subs.alias("s"), ["topic", "partition", "cursor"], "inner"
    )
    assert j.count() == subs.count()
    assert j.filter(F.col("d.ts") > F.col("s.ts")).count() == 0  # replay-only

    # second pass: fully idempotent — zero creates everywhere, no
    # message duplication (checkpoint: committed offsets not replayed)
    created2 = engine.run_once()
    assert created2 == {"tenants": 0, "namespaces": 0, "topics": 0, "cursors": 0}
    assert (
        spark.read.parquet(os.path.join(dst, "messages")).count()
        == src_msgs.count()
    )


@pytest.mark.slow
def test_engine_picks_up_new_src_entities(spark, clusters):
    """The reference's rescan loop: entities created on src AFTER the
    first sync appear on dst on the next tick (additive, exactly-once)."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig())
    engine.sync_catalog_once()

    tenants_path = os.path.join(src, "tenants.parquet")
    existing = spark.read.parquet(tenants_path).collect()
    spark.createDataFrame(
        existing + [("late-tenant",)], "tenant string"
    ).coalesce(1).write.mode("overwrite").parquet(tenants_path)

    created = engine.sync_catalog_once()
    assert created["tenants"] == 1
    d = spark.read.parquet(os.path.join(dst, "tenants.parquet"))
    assert d.filter(F.col("tenant") == "late-tenant").count() == 1
    # and once more: converged again
    assert engine.sync_catalog_once()["tenants"] == 0


@pytest.mark.slow
def test_deleted_dst_subscription_recreated_at_translated_position(
    spark, clusters
):
    """The one LIVE branch of the reference's R23 reset path
    (`PulsarPartitionSyncWorker.java:177-208`: reset only runs when the
    src position changed AND dst LACKS the subscription — i.e. after an
    external deletion on dst): if a dst subscription disappears between
    ticks, the next cursor tick must re-create it at the floor
    translation of the CURRENT src position, replay-only."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig())
    engine.run_once()  # converged baseline
    assert engine.sync_cursors_once() == 0  # create-once: nothing to do

    sub_path = os.path.join(dst, "subscriptions.parquet")
    before = spark.read.parquet(sub_path).collect()
    assert len(before) > 1
    victim = min(
        (r.topic, r.partition, r.cursor) for r in before
    )  # deterministic pick
    survivors = [r for r in before if (r.topic, r.partition, r.cursor) != victim]
    spark.createDataFrame(
        survivors, spark.read.parquet(sub_path).schema
    ).coalesce(1).write.mode("overwrite").parquet(sub_path)

    # external deletion observed -> exactly one re-create
    assert engine.sync_cursors_once() == 1
    after = {
        (r.topic, r.partition, r.cursor): (r.ts, r.event_id)
        for r in spark.read.parquet(sub_path).collect()
    }
    assert set(after) == {(r.topic, r.partition, r.cursor) for r in before}
    # re-created at the translated position: a floor (<=) of the src
    # cursor, and an actual sampled mapping entry
    src_ts = {
        (r.topic, r.partition, r.cursor): r.ts
        for r in spark.read.parquet(
            os.path.join(src, "subscriptions.parquet")
        ).collect()
    }
    assert after[victim][0] <= src_ts[victim]
    mapping = {
        (r.topic, r.partition, r.ts, r.event_id)
        for r in engine.build_mapping().collect()
    }
    assert (victim[0], victim[1], after[victim][0], after[victim][1]) in mapping
    # and the tick after that is a no-op again
    assert engine.sync_cursors_once() == 0


@pytest.mark.slow
def test_cursor_advancement_opt_in(spark, clusters):
    """Opt-in improvement over the reference's frozen cursors: when new
    messages arrive and the src cursor progresses, the dst cursor
    follows forward — never backward, never past the src position
    (replay-only in both directions)."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig(advance_cursors=True))
    engine.run_once()  # ensure created + converged

    # produce NEW src messages two hours later, replicate them (the
    # checkpoint picks up only the new files), extending the mapping
    msgs_path = os.path.join(src, "messages")
    msgs = spark.read.parquet(msgs_path)
    newer = msgs.withColumn(
        "event_time", F.col("event_time") + F.expr("INTERVAL 2 HOURS")
    ).withColumn("entry_id", F.col("entry_id") + F.lit(1_000_000))
    newer.write.mode("append").parquet(msgs_path)
    engine.start_replication(available_now=True).awaitTermination(600)

    # src cursors jump to each partition's new latest message
    sub_path = os.path.join(src, "subscriptions.parquet")
    src_subs = spark.read.parquet(sub_path).collect()
    newest = (
        spark.read.parquet(msgs_path)
        .groupBy("topic", "partition")
        .agg(
            F.max_by(
                F.struct(
                    F.col("event_time").alias("ts"),
                    F.col("entry_id").alias("event_id"),
                ),
                F.struct("event_time", "entry_id"),
            ).alias("s")
        )
        .collect()
    )
    latest = {(r.topic, r.partition): r.s for r in newest}
    moved = [
        (r.topic, r.partition, r.cursor,
         latest[(r.topic, r.partition)].ts, latest[(r.topic, r.partition)].event_id)
        for r in src_subs
    ]
    spark.createDataFrame(
        moved, "topic string, partition int, cursor string, ts timestamp, event_id long"
    ).coalesce(1).write.mode("overwrite").parquet(sub_path)

    dst_subs = os.path.join(dst, "subscriptions.parquet")
    before_rows = spark.read.parquet(dst_subs).count()
    before = _newest_cursors(spark, dst)
    n = engine.advance_cursors_once()
    after = _newest_cursors(spark, dst)
    assert n > 0
    # each move is appended as a new version; older versions stay
    assert spark.read.parquet(dst_subs).count() == before_rows + n
    assert set(after) == set(before)  # advancement never creates/drops
    src_ts = {(t, p, c): ts for (t, p, c, ts, _) in moved}
    moved_forward = 0
    for k, ts in after.items():
        assert ts >= before[k]          # monotone forward
        assert ts <= src_ts[k]          # floor: never past the true position
        moved_forward += ts > before[k]
    assert moved_forward == n
    # converged: a second pass moves nothing
    assert engine.advance_cursors_once() == 0


@pytest.mark.slow
def test_full_system_catalog_then_data_plane_convergence(spark, tmp_path):
    """The reference's complete story in ONE test — the 3-minute
    catalog rescan (PulsarPartitionTopicSyncManager) followed by
    per-topic message replication (PulsarMessageSyncTest.java:38-64) —
    with the data plane running through the LIVE format("pulsar")
    binding against fake brokers: after one catalog tick plus one
    replication sweep of every topic the converged catalog owns, the
    dst broker holds exactly the src broker's messages, per topic."""
    from pulsar_sync_java_spark.streaming.fake_pulsar import (
        STORAGE_ROOT_OPTION,
        register_fake_pulsar,
        topic_dir,
    )
    from pulsar_sync_java_spark.streaming.pulsar_connector import (
        PulsarEndpoint,
        read_pulsar_stream,
        write_pulsar_stream,
    )
    from pulsar_sync_java_spark.streaming.replicate import (
        message_projection,
    )

    register_fake_pulsar(spark)
    src_cat, dst_cat = str(tmp_path / "src-cat"), str(tmp_path / "dst-cat")
    src_broker, dst_broker = str(tmp_path / "src-b"), str(tmp_path / "dst-b")
    os.makedirs(src_broker)
    os.makedirs(dst_broker)

    # control plane: src knows both topics, dst starts empty-but-valid
    topic_rows = [
        ("public", "default", t, 4, {"owner": "sync"})
        for t in ("view", "click")
    ]
    _write_catalog(
        spark,
        src_cat,
        [("public",)],
        [("public", "default", "{}")],
        topic_rows,
        [],
    )
    _write_catalog(spark, dst_cat, [("public",)], [], [], [])

    # data plane: src broker holds each topic's messages
    msgs = build_messages(spark)
    for t in ("view", "click"):
        msgs.filter(F.col("topic") == t).coalesce(1).write.parquet(
            topic_dir(src_broker, f"persistent://public/default/{t}")
        )

    engine = SyncEngine(spark, src_cat, dst_cat)
    created = engine.sync_catalog_once()
    assert created["topics"] == 2  # catalog converged additively

    # replicate every topic the CONVERGED DST CATALOG now owns — the
    # catalog is the work list, exactly the reference's fan-out (R26)
    dst_topics = [
        f"persistent://{r.tenant}/{r.namespace}/{r.topic}"
        for r in spark.read.parquet(
            os.path.join(dst_cat, "topics.parquet")
        ).collect()
    ]
    assert len(dst_topics) == 2
    for i, full_topic in enumerate(sorted(dst_topics)):
        stream = read_pulsar_stream(
            spark,
            PulsarEndpoint("src-broker"),
            subscription_name="pulsar-sync",
            topics=full_topic,
            extra_options={STORAGE_ROOT_OPTION: src_broker},
        )
        q = (
            write_pulsar_stream(
                message_projection(stream),
                PulsarEndpoint("dst-broker"),
                full_topic,
                str(tmp_path / f"ckpt{i}"),
                extra_options={STORAGE_ROOT_OPTION: dst_broker},
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # dual-plane convergence: per topic, dst broker == src broker
    for t in ("view", "click"):
        full_topic = f"persistent://public/default/{t}"
        want = msgs.filter(F.col("topic") == t).count()
        got = spark.read.parquet(topic_dir(dst_broker, full_topic))
        assert got.count() == want, t
        assert (
            got.select("ledger_id", "entry_id").distinct().count() == want
        ), t


@pytest.mark.slow
def test_cli_main_ticks_and_converges(spark, tmp_path, capsys):
    """`python -m pulsar_sync_java_spark SRC DST --ticks 2` — the
    working CLI the reference's broken `PulsarSyncStarter.main` never
    provided: tick 1 applies the full catalog/cursor diff, tick 2 is
    the all-zero idempotent pass, each reported as one JSON line."""
    import json

    from pulsar_sync_java_spark.__main__ import main

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    msgs = build_messages(spark)
    msgs.repartition(2).write.parquet(os.path.join(src, "messages"))
    _write_catalog(
        spark,
        src,
        [("public",)],
        [("public", "default", "{}")],
        [("public", "default", "view", 2, {"owner": "sync"})],
        [
            (r.topic, r.partition, r.cursor, r.ts, r.event_id)
            for r in msgs.filter(
                (F.col("topic") == "view") & (F.col("partition") == 0)
            )
            .groupBy("topic")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("event_time").alias("ts"),
                        F.col("entry_id").alias("event_id"),
                    ),
                    F.struct("event_time", "entry_id"),
                ).alias("s")
            )
            .select(
                "topic",
                F.lit(0).alias("partition"),
                F.lit("sub-a").alias("cursor"),
                F.col("s.ts").alias("ts"),
                F.col("s.event_id").alias("event_id"),
            )
            .collect()
        ],
    )
    _write_catalog(spark, dst, [], [], [], [])
    os.makedirs(os.path.join(dst, "messages"), exist_ok=True)

    rc = main([src, dst, "--ticks", "2"])
    assert rc == 0
    lines = [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
        if l.startswith("{")
    ]
    assert len(lines) == 2
    t0, t1 = lines
    assert t0["tick"] == 0 and t0["tenants"] == 1 and t0["topics"] == 1
    assert t0["cursors"] == 1
    # second tick: converged — every apply count zero
    assert t1["tick"] == 1
    assert all(v == 0 for k, v in t1.items() if k != "tick"), t1


_CATALOG_KEYS = {
    "tenants": TENANT_KEY,
    "namespaces": NAMESPACE_KEY,
    "topics": TOPIC_KEY,
}


def _catalog_keys(spark, cluster: str, name: str) -> list[tuple]:
    path = os.path.join(cluster, f"{name}.parquet")
    keys = spark.read.parquet(path).select(*_CATALOG_KEYS[name])
    return [tuple(r) for r in keys.collect()]


def _assert_catalogs_converged(spark, engine) -> None:
    """dst ⊇ src with no duplicate key at any level, and the tick after
    creates nothing."""
    for name in _CATALOG_KEYS:
        dst_keys = _catalog_keys(spark, engine.dst, name)
        assert len(dst_keys) == len(set(dst_keys)), name
        assert set(_catalog_keys(spark, engine.src, name)) <= set(dst_keys), name
    assert engine.sync_catalog_once() == {"tenants": 0, "namespaces": 0, "topics": 0}


@pytest.mark.slow
def test_bare_dst_converges_like_schema_only_dst(spark, clusters, tmp_path):
    """A dst directory with no tables at all reads as empty: one pass
    converges it to the same state as a dst seeded with schema-only
    tables, and the pass after creates nothing."""
    src, _ = clusters
    seeded, bare = str(tmp_path / "seeded"), str(tmp_path / "bare")
    _write_catalog(spark, seeded, [], [], [], [])
    os.makedirs(os.path.join(seeded, "messages"))
    os.makedirs(bare)

    def state(dst: str) -> dict:
        out = {
            name: sorted(_catalog_keys(spark, dst, name)) for name in _CATALOG_KEYS
        }
        out["messages"] = spark.read.parquet(os.path.join(dst, "messages")).count()
        out["subscriptions"] = sorted(
            tuple(r) for r in spark.read.parquet(
                os.path.join(dst, "subscriptions.parquet")
            ).collect()
        )
        return out

    created = {d: SyncEngine(spark, src, d).run_once() for d in (seeded, bare)}
    assert created[bare] == created[seeded]
    assert created[bare]["cursors"] > 0
    assert state(bare) == state(seeded)
    again = SyncEngine(spark, src, bare).run_once()
    assert again == {"tenants": 0, "namespaces": 0, "topics": 0, "cursors": 0}


def test_catalog_tick_appends_only_created_rows(spark, clusters, tmp_path):
    """Append-only: a tick leaves every existing catalog file as it
    was and adds one file per level holding exactly the created rows;
    a converged tick writes nothing."""
    src, _ = clusters
    dst = str(tmp_path / "dst")
    engine = SyncEngine(spark, src, dst)
    engine.sync_catalog_once()

    def files() -> dict[str, float]:
        return {
            os.path.join(base, f): os.path.getmtime(os.path.join(base, f))
            for name in _CATALOG_KEYS
            for base, _, fs in os.walk(os.path.join(dst, f"{name}.parquet"))
            for f in fs
        }

    before = files()
    assert engine.sync_catalog_once() == {"tenants": 0, "namespaces": 0, "topics": 0}
    assert files() == before

    more = str(tmp_path / "src-more")
    shutil.copytree(src, more, ignore=shutil.ignore_patterns("messages"))
    spark.createDataFrame([("later-tenant",)], "tenant string").write.mode(
        "append"
    ).parquet(os.path.join(more, "tenants.parquet"))
    assert SyncEngine(spark, more, dst).sync_catalog_once()["tenants"] == 1
    after = files()
    assert {k: after[k] for k in before} == before
    (added,) = set(after) - set(before)
    assert [r.tenant for r in spark.read.parquet(added).collect()] == ["later-tenant"]


def test_restart_after_crash_between_catalog_levels(
    spark, clusters, tmp_path, monkeypatch
):
    """A tick killed after appending tenants but before namespaces and
    topics: the next tick completes the other levels."""
    src, _ = clusters
    dst = str(tmp_path / "dst")
    crashing = SyncEngine(spark, src, dst)
    append = crashing._append

    def append_tenants_then_crash(name, rows):
        if name != "tenants":
            raise RuntimeError("killed")
        return append(name, rows)

    monkeypatch.setattr(crashing, "_append", append_tenants_then_crash)
    with pytest.raises(RuntimeError, match="killed"):
        crashing.sync_catalog_once()
    assert _catalog_keys(spark, dst, "tenants")
    assert not os.path.exists(os.path.join(dst, "topics.parquet"))

    engine = SyncEngine(spark, src, dst)
    created = engine.sync_catalog_once()
    assert created["tenants"] == 0 and created["topics"] > 0
    _assert_catalogs_converged(spark, engine)


def test_restart_ignores_uncommitted_catalog_writes(spark, clusters, tmp_path):
    """Writes that never committed stay invisible: a Spark job's
    `_temporary/` attempt and task output, and a half-written hidden
    file of an interrupted append.  The next tick creates every row
    they held, once."""
    src, _ = clusters
    dst = str(tmp_path / "dst")
    topics = os.path.join(dst, "topics.parquet")
    staged = str(tmp_path / "staged")
    src_topics = spark.read.parquet(os.path.join(src, "topics.parquet"))
    src_topics.coalesce(1).write.parquet(staged)
    (part,) = [f for f in os.listdir(staged) if f.endswith(".parquet")]
    for attempt in (
        "_temporary/0/_temporary/attempt_202610180000_0001_m_000000_0",
        "_temporary/0/task_202610180000_0001_m_000000",
    ):
        os.makedirs(os.path.join(topics, attempt))
        shutil.copy(os.path.join(staged, part), os.path.join(topics, attempt, part))
    with open(os.path.join(staged, part), "rb") as f:
        half = f.read()[:100]
    with open(os.path.join(topics, ".part-interrupted.parquet.tmp"), "wb") as f:
        f.write(half)

    engine = SyncEngine(spark, src, dst)
    created = engine.sync_catalog_once()
    assert created["topics"] == src_topics.count()
    _assert_catalogs_converged(spark, engine)


def test_restart_after_catalog_directory_deleted(spark, clusters, tmp_path):
    """A catalog directory that vanished (the window in which an
    overwrite has deleted the old files and not yet written the new
    ones) reads as empty, and the next tick re-creates it."""
    src, _ = clusters
    dst = str(tmp_path / "dst")
    engine = SyncEngine(spark, src, dst)
    first = engine.sync_catalog_once()
    shutil.rmtree(os.path.join(dst, "namespaces.parquet"))
    shutil.rmtree(os.path.join(dst, "topics.parquet"))

    created = engine.sync_catalog_once()
    assert created == {
        "tenants": 0, "namespaces": first["namespaces"], "topics": first["topics"]
    }
    _assert_catalogs_converged(spark, engine)
