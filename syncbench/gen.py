"""Seeded source-cluster generator in the engine's directory layout.

Writes, with pyarrow only (no Spark), the five pieces a cluster
directory holds (see `pulsar_sync_java_spark/engine.py`):

    <cluster>/tenants.parquet/        catalog, parquet directory
    <cluster>/namespaces.parquet/     catalog, parquet directory
    <cluster>/topics.parquet/         catalog, parquet directory
    <cluster>/messages/               MESSAGE_SCHEMA parquet files
    <cluster>/subscriptions.parquet/  cursors, parquet directory

Every table is a parquet *directory*: the engine appends dst cursors
with `mode("append")`, which fails with ParentNotDirectoryException
when `subscriptions.parquet` is a single file.  Every file is written
under a dot-prefixed temporary name and then renamed, so Spark's file
listing (which skips dot- and underscore-prefixed names) never sees a
half-written file.

Run as a program, this module is the `sync` workload's open-loop tail
generator: a message file every fraction of a second, each message
stamped with the time its file was due, plus a few new topics and
subscriptions every few seconds.  It runs in its own process, on a
schedule that does not slow when the engine slows, until it gets
SIGTERM (or its parent is gone), and then writes its log.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAYLOAD_BYTES = 256
# Event times step 20 ms per message within a partition, starting here.
HISTORY_START_US = 1_700_000_000_000_000
EVENT_STEP_US = 20_000
# The tail generator's schedule.
TAIL_RATE = 5_000  # messages per second
# Files per second.  A file's messages share its due time and reach dst
# in the same tick, so the lag percentiles move in steps of one file;
# small steps keep them a smooth function of tick timing.
TAIL_FILES_PER_SECOND = 5
# Catalog additions in the tail: one topic (with a subscription per
# partition) every two seconds, so that every tail tick, at 6 to 8 s,
# has topics and cursors to create and the ticks do the same kind of work.
NEW_TOPICS_EVERY = 2  # seconds
NEW_TOPICS = 1

TS = pa.timestamp("us", tz="UTC")
MESSAGE_SCHEMA = pa.schema(
    [
        ("tenant", pa.string()),
        ("namespace", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("ledger_id", pa.int64()),
        ("entry_id", pa.int64()),
        ("batch_idx", pa.int32()),
        ("key", pa.string()),
        ("value", pa.binary()),
        ("event_time", TS),
        ("publish_time", TS),
        ("properties", pa.map_(pa.string(), pa.string())),
    ]
)
TENANT_SCHEMA = pa.schema([("tenant", pa.string())])
NAMESPACE_SCHEMA = pa.schema(
    [("tenant", pa.string()), ("namespace", pa.string()), ("policies", pa.string())]
)
TOPIC_SCHEMA = pa.schema(
    [
        ("tenant", pa.string()),
        ("namespace", pa.string()),
        ("topic", pa.string()),
        ("partitions", pa.int32()),
        ("properties", pa.map_(pa.string(), pa.string())),
    ]
)
SUBSCRIPTION_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("cursor", pa.string()),
        ("ts", TS),
        ("event_id", pa.int64()),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Size of a generated source cluster."""

    messages: int
    tenants: int = 10
    namespaces: int = 50
    topics: int = 200
    partitions: int = 4
    files: int = 16


def write_atomic(table: pa.Table, directory: str, name: str) -> str:
    """Write `table` as `directory/name`, visible only once complete."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final


def topic_rows(shape: Shape, first: int, count: int) -> list[tuple[str, str, str]]:
    """(tenant, namespace, topic) for topics first..first+count-1: topic i
    lives in namespace i % namespaces, namespace j in tenant j % tenants."""
    rows = []
    for i in range(first, first + count):
        ns = i % shape.namespaces
        rows.append((f"tenant-{ns % shape.tenants}", f"ns-{ns}", f"topic-{i}"))
    return rows


def _catalog_tables(shape: Shape, topics: list[tuple[str, str, str]]):
    ns_rows = sorted({(t, n) for t, n, _ in topics})
    tenants = pa.table({"tenant": sorted({t for t, _ in ns_rows})}, TENANT_SCHEMA)
    namespaces = pa.table(
        {
            "tenant": [t for t, _ in ns_rows],
            "namespace": [n for _, n in ns_rows],
            "policies": ['{"retention": "1h"}'] * len(ns_rows),
        },
        NAMESPACE_SCHEMA,
    )
    topic_table = pa.table(
        {
            "tenant": [t for t, _, _ in topics],
            "namespace": [n for _, n, _ in topics],
            "topic": [x for _, _, x in topics],
            "partitions": [shape.partitions] * len(topics),
            "properties": [[("owner", "sync")]] * len(topics),
        },
        TOPIC_SCHEMA,
    )
    return tenants, namespaces, topic_table


def message_table(
    rng: np.random.Generator,
    topics: list[tuple[str, str, str]],
    partitions: int,
    entry_start: np.ndarray,
    n: int,
    ledger_id: int,
    publish_us: int,
) -> pa.Table:
    """`n` messages spread as evenly as possible over every (topic,
    partition), consecutive within each; the remainder goes to the
    partitions after the one the previous call ended on.
    `entry_start[p]` is partition p's next entry id (advanced in place).
    Event time is a pure function of the entry id, so event time and
    entry id order every partition the same way."""
    n_parts = len(topics) * partitions
    counts = np.full(n_parts, n // n_parts)
    counts[(ledger_id * (n % n_parts) + np.arange(n % n_parts)) % n_parts] += 1
    part_idx = np.repeat(np.arange(n_parts), counts)
    offsets = np.arange(n) - np.repeat(np.cumsum(counts) - counts, counts)
    entry = entry_start[part_idx] + offsets
    entry_start += counts
    topic_idx = part_idx // partitions
    tenants = np.array([t for t, _, _ in topics], dtype=object)
    namespaces = np.array([ns for _, ns, _ in topics], dtype=object)
    names = np.array([x for _, _, x in topics], dtype=object)
    keys = np.char.add("k", rng.integers(0, 1_000_000, n).astype(str)).astype(object)
    keys[rng.random(n) < 0.1] = None  # keyless messages stay keyless on dst
    payload = rng.bytes(n * PAYLOAD_BYTES)
    values = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(PAYLOAD_BYTES), n, [None, pa.py_buffer(payload)]
    ).cast(pa.binary())
    props = pa.MapArray.from_arrays(
        np.arange(0, 2 * n + 1, 2, dtype=np.int32),
        pa.array(np.tile(["src", "seq"], n)),
        pa.array(
            np.column_stack(
                [np.full(n, "gen", dtype=object), entry.astype(str).astype(object)]
            ).ravel()
        ),
    )
    return pa.table(
        [
            pa.array(tenants[topic_idx], pa.string()),
            pa.array(namespaces[topic_idx], pa.string()),
            pa.array(names[topic_idx], pa.string()),
            pa.array(part_idx % partitions, pa.int32()),
            pa.array(np.full(n, ledger_id), pa.int64()),
            pa.array(entry, pa.int64()),
            pa.array(np.zeros(n), pa.int32()),
            pa.array(keys, pa.string()),
            values,
            pa.array(HISTORY_START_US + entry * EVENT_STEP_US, TS),
            pa.array(np.full(n, publish_us), TS),
            props,
        ],
        schema=MESSAGE_SCHEMA,
    )


def subscription_table(
    topics: list[tuple[str, str, str]], partitions: int, entry: np.ndarray, cursor: str
) -> pa.Table:
    """One cursor per (topic, partition) at entry id `entry[p]`."""
    n = len(topics) * partitions
    part_idx = np.arange(n)
    return pa.table(
        [
            pa.array([topics[i // partitions][2] for i in part_idx], pa.string()),
            pa.array(part_idx % partitions, pa.int32()),
            pa.array([cursor] * n, pa.string()),
            pa.array(HISTORY_START_US + entry * EVENT_STEP_US, TS),
            pa.array(entry, pa.int64()),
        ],
        schema=SUBSCRIPTION_SCHEMA,
    )


def write_source(root: str, shape: Shape, seed: int) -> np.ndarray:
    """Write a source cluster of `shape` into `root` (which must not hold
    one yet): catalogs, messages in `shape.files` files, and one
    subscription per partition at mid-history.  Returns every
    partition's next entry id, where a tail generator continues."""
    rng = np.random.default_rng(seed)
    topics = topic_rows(shape, 0, shape.topics)
    tenants, namespaces, topic_table = _catalog_tables(shape, topics)
    write_atomic(tenants, os.path.join(root, "tenants.parquet"), "part-0.parquet")
    write_atomic(namespaces, os.path.join(root, "namespaces.parquet"), "part-0.parquet")
    write_atomic(topic_table, os.path.join(root, "topics.parquet"), "part-0.parquet")
    entry = np.zeros(shape.topics * shape.partitions, dtype=np.int64)
    for f in range(shape.files):
        table = message_table(
            rng, topics, shape.partitions, entry, shape.messages // shape.files, f,
            HISTORY_START_US,
        )
        write_atomic(table, os.path.join(root, "messages"), f"part-{f:05d}.parquet")
    subs = subscription_table(topics, shape.partitions, entry // 2, "sub-0")
    write_atomic(subs, os.path.join(root, "subscriptions.parquet"), "part-0.parquet")
    return entry


def write_empty_destination(root: str) -> None:
    """An empty dst cluster: schema-only catalogs and subscriptions (a
    zero-row file, so Spark can read the schema) and no messages."""
    for name, schema in (
        ("tenants", TENANT_SCHEMA),
        ("namespaces", NAMESPACE_SCHEMA),
        ("topics", TOPIC_SCHEMA),
        ("subscriptions", SUBSCRIPTION_SCHEMA),
    ):
        write_atomic(
            schema.empty_table(), os.path.join(root, f"{name}.parquet"), "part-0.parquet"
        )
    os.makedirs(os.path.join(root, "messages"), exist_ok=True)


def run_tail(
    root: str,
    shape: Shape,
    seed: int,
    start_at: float,
    seconds: int,
    entry: np.ndarray,
    stop: Callable[[], bool],
) -> list[dict]:
    """Open-loop tail generator: file k (0-based) is due at
    `start_at + k / TAIL_FILES_PER_SECOND` and carries
    `TAIL_RATE / TAIL_FILES_PER_SECOND` messages spread over the
    partitions, with publish_time = its due time.  Files keep coming
    until `stop()` is true.  Every NEW_TOPICS_EVERY seconds of the first
    `seconds`, NEW_TOPICS topics and one subscription per new partition
    are added first; later files carry their messages.  (The engine
    stops the generator after the catalog step of its last tick, so an
    addition after `seconds` could miss dst.)  Returns one record per
    file: name, due, written, messages."""
    rng = np.random.default_rng([seed, 1])
    topics = topic_rows(shape, 0, shape.topics)
    log = []
    k = 0
    while not stop():
        due = start_at + k / TAIL_FILES_PER_SECOND
        if (k and k % (NEW_TOPICS_EVERY * TAIL_FILES_PER_SECOND) == 0
                and k < seconds * TAIL_FILES_PER_SECOND):
            added = topic_rows(shape, len(topics), NEW_TOPICS)
            topics += added
            new_parts = np.zeros(NEW_TOPICS * shape.partitions, np.int64)
            entry = np.concatenate([entry, new_parts])
            # namespaces are a fixed set, so only topics and cursors grow
            _, _, topic_table = _catalog_tables(shape, added)
            write_atomic(topic_table, os.path.join(root, "topics.parquet"), f"part-t{k}.parquet")
            subs = subscription_table(added, shape.partitions, new_parts, "sub-0")
            write_atomic(subs, os.path.join(root, "subscriptions.parquet"), f"part-t{k}.parquet")
        while (delay := due - time.time()) > 0 and not stop():
            time.sleep(min(delay, 0.01))
        if stop():
            break
        table = message_table(
            rng, topics, shape.partitions, entry, TAIL_RATE // TAIL_FILES_PER_SECOND,
            1_000_000 + k, int(due * 1_000_000),
        )
        name = f"tail-{k:05d}.parquet"
        write_atomic(table, os.path.join(root, "messages"), name)
        log.append(
            {"name": name, "due": due, "written": time.time(), "messages": table.num_rows}
        )
        k += 1
    return log


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--root", required=True)
    p.add_argument("--state", required=True, help="JSON from the set-up: shape and entry ids")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--start-at", type=float, required=True)
    p.add_argument("--seconds", type=int, required=True, help="catalog additions stop after")
    p.add_argument("--log", required=True)
    a = p.parse_args()
    with open(a.state) as f:
        state = json.load(f)
    stopped = []
    signal.signal(signal.SIGTERM, lambda *_: stopped.append(True))
    parent = os.getppid()
    log = run_tail(
        a.root, Shape(**state["shape"]), a.seed, a.start_at, a.seconds,
        np.array(state["entry"], dtype=np.int64),
        lambda: bool(stopped) or os.getppid() != parent,
    )
    with open(a.log + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(a.log + ".tmp", a.log)


if __name__ == "__main__":
    main()
