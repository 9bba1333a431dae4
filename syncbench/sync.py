"""The `sync` workload: backfill an empty destination, then keep it
fresh under an open-loop tail.

1. Set-up: generate a seeded source cluster (`gen.write_source`) and an
   empty destination, start the session.
2. First pass: one convergence pass from the empty destination, the
   same three calls in the same order as `SyncEngine.run_once` (catalog
   tick, replication to completion, cursor tick).  This is the backfill
   a migration pays, first-call costs included.
3. Tail: a generator process (`gen.py`) appends
   `gen.TAIL_FILES_PER_SECOND` message files per second at
   `gen.TAIL_RATE` messages/s, adding topics and subscriptions every few
   seconds; the engine runs the same three-call tick back to back
   meanwhile.  The first tick that starts after the run's seconds is the
   last: it stops the generator between its catalog step and its
   replication, so the replication takes in every file written.
4. Checks, outside every timed section (see `SyncWorkload.check`).

A message's lag is the end of the replication call that committed it
to dst minus the time its file was due.  Which call committed a file is
read from the replication checkpoint's source log after each call.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from spans import Tracer, median, supported_percentile, weighted_quantile

SHAPE = gen.Shape(messages=240_000)
CATALOGS = ("tenants", "namespaces", "topics")
SAMPLE_ROWS = 200  # messages compared field by field with the source


@dataclass
class Tick:
    """One convergence pass or tick, timed untraced."""

    wall_s: float
    catalog_s: float
    replicate_s: float
    cursor_s: float
    replicate_at: float  # wall clock when the replication call started
    committed_at: float  # wall clock when the replication call returned
    created: dict
    ok: bool
    rows: int = 0
    batches: int = 0
    rows_per_s: list = field(default_factory=list)
    src_files: int = 0
    catalog_jobs: int = 0
    replicate_jobs: int = 0
    cursor_jobs: int = 0
    catalog_rows_written: int = 0


def _visible_files(directory: str) -> list[str]:
    return sorted(
        f for f in os.listdir(directory)
        if not f.startswith((".", "_")) and f.endswith(".parquet")
    )


def _parquet_files(directory: str) -> list[str]:
    out = []
    for base, dirs, files in os.walk(directory):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(base, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return out


def _rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def committed_files(checkpoint: str) -> set[str]:
    """Source files the replication checkpoint has committed so far."""
    log = os.path.join(checkpoint, "sources", "0")
    names: set[str] = set()
    if not os.path.isdir(log):
        return names
    for fn in os.listdir(log):
        if fn.startswith("."):
            continue
        with open(os.path.join(log, fn)) as f:
            for line in f:
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


def converge(
    engine, tracer: Tracer, name: str, catalog_dirs: list[str], before_replication=None
) -> Tick:
    """catalog tick -> replication to completion -> cursor tick, the
    order of `SyncEngine.run_once`, each call timed (and traced).  A
    replication that fails or does not finish marks the tick failed.
    `before_replication`, if given, runs between the catalog step and
    the replication, outside the tick's timings."""
    from pyspark.errors import StreamingQueryException

    before = {d: set(_parquet_files(d)) for d in catalog_dirs} if tracer.enabled else {}
    src_files = len(_visible_files(os.path.join(engine.src, "messages")))
    with tracer.span(name, new_trace=True):
        t0 = time.perf_counter()
        with tracer.span("engine.sync_catalog_once") as cat_span:
            created = engine.sync_catalog_once()
        t1 = time.perf_counter()
        if before_replication is not None:
            before_replication()
        paused = time.perf_counter() - t1
        replicate_at = time.time()
        with tracer.span("streaming.replicate") as rep_span:
            q = engine.start_replication(available_now=True)
            try:
                # False: still running after 600 s, as `run_once` allows
                ok = q.awaitTermination(600)
            except StreamingQueryException:
                ok = False
            if not ok:
                q.stop()
        committed_at = time.time()
        t2 = time.perf_counter()
        with tracer.span("engine.sync_cursors_once") as cur_span:
            created["cursors"] = engine.sync_cursors_once()
        t3 = time.perf_counter()
    progress = q.recentProgress
    tick = Tick(
        wall_s=t3 - t0 - paused,
        catalog_s=t1 - t0,
        replicate_s=t2 - t1 - paused,
        cursor_s=t3 - t2,
        replicate_at=replicate_at,
        committed_at=committed_at,
        created=created,
        ok=ok,
        rows=sum(p.numInputRows for p in progress),
        batches=sum(1 for p in progress if p.numInputRows),
        rows_per_s=[p.processedRowsPerSecond for p in progress if p.numInputRows],
        src_files=src_files,
    )
    if tracer.enabled:
        tracer.add_group_jobs(rep_span, str(q.runId))
        tick.catalog_jobs = cat_span.jobs
        tick.replicate_jobs = rep_span.jobs
        tick.cursor_jobs = cur_span.jobs
        # rows in catalog files this tick wrote (an overwrite replaces
        # every part file of the catalog it rewrites)
        tick.catalog_rows_written = sum(
            _rows(set(_parquet_files(d)) - before[d]) for d in catalog_dirs
        )
    return tick


class SyncWorkload:
    """Inputs, measurement, checks and metrics of one `sync` run."""

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.src, self.dst = os.path.join(work, "src"), os.path.join(work, "dst")
        self.entry = gen.write_source(self.src, SHAPE, seed)
        gen.write_empty_destination(self.dst)

    def warm_up(self, spark) -> None:
        spark.range(1).count()  # the session has scheduled its first job

    def measure(self, spark, tracer: Tracer, seconds: int) -> None:
        from pulsar_sync_java_spark.engine import SyncEngine

        self.engine = engine = SyncEngine(spark, self.src, self.dst)
        catalogs = [os.path.join(self.dst, f"{c}.parquet") for c in CATALOGS]
        self.first = converge(engine, tracer, "pass", catalogs)

        state = os.path.join(self.work, "tail-state.json")
        with open(state, "w") as f:
            json.dump({"shape": SHAPE.__dict__, "entry": self.entry.tolist()}, f)
        gen_log = os.path.join(self.work, "tail-log.json")
        start_at = time.time() + 0.5
        checkpoint = os.path.join(self.dst, "_checkpoints", "replication")
        seen = committed_files(checkpoint)
        self.commit_time: dict[str, float] = {}
        self.ticks: list[Tick] = []
        with open(os.path.join(self.work, "generator.err"), "w") as err:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
                 "--root", self.src, "--state", state, "--seed", str(self.seed),
                 "--start-at", repr(start_at), "--seconds", str(seconds), "--log", gen_log],
                stdout=subprocess.DEVNULL, stderr=err,
            )

            def stop_generator() -> None:
                proc.terminate()
                if proc.wait(timeout=60) != 0:
                    raise RuntimeError(f"tail generator exited with {proc.returncode}")

            try:
                deadline = start_at + seconds
                while True:
                    last = time.time() >= deadline
                    tick = converge(engine, tracer, "tick", catalogs,
                                    stop_generator if last else None)
                    self.ticks.append(tick)
                    now_seen = committed_files(checkpoint)
                    for name in now_seen - seen:
                        self.commit_time[name] = tick.committed_at
                    seen = now_seen
                    if last:
                        break
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
        with open(gen_log) as f:
            self.files = json.load(f)

    def check(self, spark) -> dict[str, bool]:
        """Correctness after the last tick; each entry is one check."""
        from pyspark.sql import functions as F

        from pulsar_sync_java_spark.streaming.replicate import MESSAGE_KEY

        src, dst = self.src, self.dst
        results: dict[str, bool] = {}
        src_files = [os.path.join(src, "messages", f)
                     for f in _visible_files(os.path.join(src, "messages"))]
        dst_msgs = spark.read.parquet(os.path.join(dst, "messages"))
        counts = dst_msgs.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct(*MESSAGE_KEY).alias("keys")
        ).first()
        results["message_count"] = counts["n"] == _rows(src_files)
        results["no_duplicate_keys"] = counts["keys"] == counts["n"]

        # field fidelity on a seeded sample of source messages
        rng = np.random.default_rng([self.seed, 2])
        picks = rng.choice(len(src_files), size=min(4, len(src_files)), replace=False)
        sample = []
        for i in picks:
            t = pq.read_table(src_files[i])
            t = t.take(rng.choice(t.num_rows, size=SAMPLE_ROWS // len(picks), replace=False))
            t = t.append_column("event_us", t["event_time"].cast("int64"))
            t = t.append_column("publish_us", t["publish_time"].cast("int64"))
            sample += t.to_pylist()
        keys = spark.createDataFrame(
            [tuple(r[k] for k in MESSAGE_KEY) for r in sample],
            "topic string, partition int, ledger_id long, entry_id long, batch_idx int",
        )
        got = {
            tuple(r[k] for k in MESSAGE_KEY): r
            for r in dst_msgs.join(keys, MESSAGE_KEY).select(
                *MESSAGE_KEY, "key", "value", "properties",
                F.unix_micros("event_time").alias("event_us"),
                F.unix_micros("publish_time").alias("publish_us"),
            ).collect()
        }

        def same(s, d) -> bool:
            return (
                d is not None
                and d["key"] == s["key"]
                and bytes(d["value"]) == s["value"]
                and d["properties"] == dict(s["properties"])
                and d["event_us"] == s["event_us"]
                and d["publish_us"] == s["publish_us"]
            )

        results["sample_fidelity"] = len(sample) > 0 and all(
            same(s, got.get(tuple(s[k] for k in MESSAGE_KEY))) for s in sample
        )

        def keys_of(path: str, cols: list[str]) -> set[tuple]:
            return {tuple(r.values()) for r in pq.read_table(path, columns=cols).to_pylist()}

        for name, key in zip(CATALOGS, (["tenant"], ["tenant", "namespace"],
                                        ["tenant", "namespace", "topic"])):
            results[f"catalog_superset_{name}"] = keys_of(
                os.path.join(src, f"{name}.parquet"), key
            ) <= keys_of(os.path.join(dst, f"{name}.parquet"), key)

        cur_key = ["topic", "partition", "cursor"]

        def cursors(cluster: str) -> dict[tuple, object]:
            table = pq.read_table(os.path.join(cluster, "subscriptions.parquet"))
            return {tuple(r[k] for k in cur_key): r["ts"] for r in table.to_pylist()}

        src_subs, dst_subs = cursors(src), cursors(dst)
        results["cursors_replay_only"] = all(
            k in src_subs and ts <= src_subs[k] for k, ts in dst_subs.items()
        )
        results["cursors_converged"] = set(src_subs) == set(dst_subs)
        return results

    def metrics(self, spark, tracer: Tracer) -> dict:
        """End-to-end numbers, plus per-layer ones when traced."""
        first, ticks = self.first, self.ticks
        every = [first, *ticks]
        # Lags of the files due in whole tick periods: from the first tail
        # tick's replication start to the last one's, just after the
        # generator stopped.  Files due before, while the first tick ran
        # its catalog step, can only have short lags, and how many a run
        # has depends on where its ticks fall, not on how fast they are.
        lo = ticks[0].replicate_at
        window = [f for f in self.files if f["due"] >= lo]
        lags = [
            (self.commit_time[f["name"]] - f["due"], f["messages"])
            for f in window if f["name"] in self.commit_time
        ]
        out = {
            "e2e": {
                "first_pass_s": first.wall_s,
                "warm_pass_s": median(t.wall_s for t in ticks),
                "lag_p50_s": weighted_quantile(lags, 0.50),
                "lag_p99_s": weighted_quantile(lags, 0.99),
                "msgs_per_s": first.rows / first.wall_s,
                "lag_samples": sum(w for _, w in lags),
                "lag_supported_percentile": supported_percentile(sum(w for _, w in lags)),
                "tail_files": len(self.files),
                "lag_window_files": len(window),
                "uncommitted_files": len(self.files) - len(self.commit_time),
                "tail_ticks": len(ticks),
                "tick_walls": " ".join(
                    f"{t.catalog_s:.2f}+{t.replicate_s:.2f}+{t.cursor_s:.2f}" for t in every
                ),
                "generator_late_max_s": max(f["written"] - f["due"] for f in self.files),
            },
            "attempted": len(every),
            "failed": sum(not t.ok for t in every),
            "note": f"first pass, {len(ticks)} tail ticks",
        }
        if tracer.enabled:
            out["layer"] = self._layer(spark, tracer, out["e2e"])
        return out

    def _layer(self, spark, tracer: Tracer, e2e: dict) -> dict:
        by_trace: dict[str, dict] = {}
        for s in tracer.spans:
            by_trace.setdefault(s.trace_id, {})[s.name] = s
        first = next(t for t in by_trace.values() if "pass" in t)
        tails = [t for t in by_trace.values() if "tick" in t]

        def self_s(spans: dict, name: str) -> float:
            return tracer.self_time(spans[name])

        def tick_median(name: str) -> float:
            return median(self_s(t, name) for t in tails)

        # the cursor tick rescans the whole dst history through this plan
        with tracer.span("plans.build_mapping", new_trace=True) as sp:
            t0 = time.perf_counter()
            mapping_input = spark.read.parquet(os.path.join(self.dst, "messages")).count()
            mapping_rows = self.engine.build_mapping().count()
            build_s = time.perf_counter() - t0
        ticks = self.ticks
        created = sum(sum(t.created[c] for c in CATALOGS) for t in ticks)
        written = sum(t.catalog_rows_written for t in ticks)
        dst_files = _parquet_files(os.path.join(self.dst, "messages"))
        return {
            "engine.catalog_first_s": self_s(first, "engine.sync_catalog_once"),
            "engine.cursor_first_s": self_s(first, "engine.sync_cursors_once"),
            "streaming.replicate_first_s": self_s(first, "streaming.replicate"),
            "engine.catalog_tick_s": tick_median("engine.sync_catalog_once"),
            "engine.catalog_jobs": median(t.catalog_jobs for t in ticks),
            "engine.catalog_rows_created": created,
            "engine.catalog_rows_written": written,
            "engine.catalog_useful_ratio": created / written if written else 0.0,
            "engine.cursor_tick_s": tick_median("engine.sync_cursors_once"),
            "engine.cursor_jobs": median(t.cursor_jobs for t in ticks),
            "engine.cursors_created": sum(t.created["cursors"] for t in ticks),
            "streaming.replicate_s": tick_median("streaming.replicate"),
            "streaming.replicate_jobs": median(t.replicate_jobs for t in ticks),
            "streaming.rows_replicated": sum(t.rows for t in ticks),
            "streaming.batches": sum(t.batches for t in ticks),
            "streaming.rows_per_s": median(r for t in ticks for r in t.rows_per_s),
            "streaming.src_files": ticks[-1].src_files,
            "plans.build_mapping_s": build_s,
            "plans.build_mapping_jobs": sp.jobs,
            "plans.mapping_input_rows": mapping_input,
            "plans.mapping_rows": mapping_rows,
            "sinks.dst_files": len(dst_files),
            "sinks.dst_bytes": sum(os.path.getsize(f) for f in dst_files),
            "generator.late_max_s": e2e["generator_late_max_s"],
        }
