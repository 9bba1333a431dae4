"""The `analytics` workload: the declared query set, batch, one caller.

Set-up generates the same-schema synthetic tables with the repo's own
generator (`tools/gen_testdata.py`, seeded from the run's seed, written
inside the run's work directory) and warms the session the way
`bench.py` does, with a warm-up query outside the measured set, so each
measured query's first call is still its first in the session.

A pass runs every query in QUERIES once and materializes its result
(`toPandas`).  The first pass is what a batch pipeline pays; later
passes, run back to back for the run's seconds, are what a repeated
caller pays.  A result's lag is the time from its pass's start to the
moment the result is in hand.

Checks, outside the timed passes: each result's order-insensitive hash
is the same in every pass and equals the DuckDB oracle's.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import sys
import time
import traceback

from spans import Tracer, median, supported_percentile, weighted_quantile

SF = 0.01
# The query set: flagship cursor translation, minhash sketch (an Arrow
# UDF with a first call several times its warm cost), skew join, as-of
# join and heavy hitters.  Each has a DuckDB oracle.
QUERIES = (
    "q_cursor_translate",
    "q_minhash_lsh",
    "q_join_salted",
    "q_asof_nearest",
    "q_heavy_hitters",
)
WARMUP_QUERY = "q_anti_join"  # relational, outside QUERIES
# Warm passes still get faster pass by pass (JIT), so a run that fits
# one pass fewer in its seconds reports a colder median.  The first pass
# and five warm passes take 24 to 35 s on 4 cores, longer than a 22-s
# run, which fixes the count there.
MIN_WARM_PASSES = 5


class AnalyticsWorkload:
    """Inputs, measurement, checks and metrics of one `analytics` run."""

    def __init__(self, root: str, work: str, seed: int) -> None:
        spec = importlib.util.spec_from_file_location(
            "_syncbench_gen_testdata", os.path.join(root, "tools", "gen_testdata.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        # the generator's output root and seed are module constants
        mod.ROOT = os.path.join(work, "tables")
        mod.SEED = seed
        with contextlib.redirect_stdout(sys.stderr):
            mod.gen_sf(SF)
        self.tables = os.path.join(mod.ROOT, f"sf{SF:g}")

    def warm_up(self, spark) -> None:
        """`bench.py`'s warm-up: JVM codegen, parquet footers, and one
        Arrow python worker per core."""
        from pyspark.sql import functions as F

        from pulsar_sync_java_spark.operators.vectorized import minhash_signature_udf
        from pulsar_sync_java_spark.queries import all_queries
        from pulsar_sync_java_spark.sources.tables import TABLES, load_table

        all_queries()[WARMUP_QUERY](spark, self.tables).count()
        for t in TABLES:
            load_table(spark, self.tables, t).count()
        par = spark.sparkContext.defaultParallelism
        spark.range(par * 64, numPartitions=par).select(
            minhash_signature_udf(4)(F.array(F.col("id"))).alias("s")
        ).count()

    def measure(self, spark, tracer: Tracer, seconds: int) -> None:
        """The first pass, then warm passes until `seconds` have passed
        since the first pass started, at least MIN_WARM_PASSES."""
        t0 = time.perf_counter()
        self.passes = [self._pass(spark, tracer, "first")]
        while len(self.passes) <= MIN_WARM_PASSES or time.perf_counter() - t0 < seconds:
            self.passes.append(self._pass(spark, tracer, "pass"))

    def _pass(self, spark, tracer: Tracer, name: str) -> dict:
        """Run every query once; per query: seconds, seconds since the
        pass started when the result was in hand, the result (None on
        error), Spark jobs when traced."""
        from pulsar_sync_java_spark.queries import all_queries

        qs = all_queries()
        out = {"time": {}, "lag": {}, "result": {}, "jobs": {}}
        with tracer.span(name, new_trace=True):
            t_pass = time.perf_counter()
            for q in QUERIES:
                with tracer.span(f"queries.{q}") as sp:
                    t0 = time.perf_counter()
                    try:
                        df = qs[q](spark, self.tables)
                        out["result"][q] = (df.columns, df.toPandas())
                    except Exception:  # a failing query is counted, not fatal
                        traceback.print_exc(file=sys.stderr)
                        out["result"][q] = None
                    t1 = time.perf_counter()
                out["time"][q] = t1 - t0
                out["lag"][q] = t1 - t_pass
                if sp is not None:
                    out["jobs"][q] = sp.jobs
        return out

    def check(self, spark) -> dict[str, bool]:
        """Per query: hash the same in every pass, and equal to DuckDB's."""
        import duckdb

        from pulsar_sync_java_spark.queries import all_oracles
        from pulsar_sync_java_spark.sources.tables import TABLES

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            results = {}
            for q in QUERIES:
                got = [p["result"][q] for p in self.passes]
                if any(g is None for g in got):
                    results[q] = False
                    continue
                hashes = {result_hash(cols, pdf) for cols, pdf in got}
                rel = con.sql(oracles[q])
                results[q] = hashes == {result_hash(rel.columns, rel.df())}
            return results
        finally:
            con.close()

    def metrics(self, spark, tracer: Tracer) -> dict:
        """End-to-end numbers, plus per-layer ones when traced."""
        first, warm = self.passes[0], self.passes[1:]
        lags = [(p["lag"][q], 1) for p in warm for q in QUERIES]
        out = {
            "e2e": {
                "first_pass_s": sum(first["time"].values()),
                "warm_pass_s": median(sum(p["time"].values()) for p in warm),
                "lag_p50_s": weighted_quantile(lags, 0.50),
                "lag_p99_s": weighted_quantile(lags, 0.99),
                "lag_samples": len(lags),
                "lag_supported_percentile": supported_percentile(len(lags)),
                "warm_passes": len(warm),
                "pass_walls": " ".join(
                    "/".join(f"{p['time'][q]:.2f}" for q in QUERIES) for p in self.passes
                ),
            },
            "attempted": len(self.passes) * len(QUERIES),
            "failed": sum(r is None for p in self.passes for r in p["result"].values()),
            "note": f"{len(self.passes)} passes of {len(QUERIES)} queries",
        }
        if tracer.enabled:
            layer = {}
            for q in QUERIES:
                layer[f"queries.{q}.first_s"] = first["time"][q]
                layer[f"queries.{q}.warm_s"] = median(p["time"][q] for p in warm)
            layer["queries.first_jobs"] = sum(first["jobs"].values())
            layer["queries.pass_jobs"] = median(sum(p["jobs"].values()) for p in warm)
            out["layer"] = layer
        return out


def result_hash(cols: list[str], pdf) -> str:
    """Order-insensitive hash of a result: columns sorted by name, every
    value stringified, rows sorted (the oracle gate's comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        tuple(str(row[i]) for i in order)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()
