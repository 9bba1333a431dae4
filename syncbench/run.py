"""Sync-engine benchmark: one run of one workload.

    python3 syncbench/run.py --workload {sync,analytics} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Prints a readable report, then, as the
last line of stdout, one JSON object: {"correct", "attempted",
"failed", "metrics"}.  With --trace 0 the metrics are the end-to-end
ones of BENCHMARK.json; with --trace 1 the run records spans and Spark
job counts around every call into the program and the metrics are the
per-layer ones (see README.md).  Exits non-zero, without a result, when
the program is not next to this directory or a run cannot complete.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("pulsar_sync_java_spark/engine.py", "tools/gen_testdata.py")


def configure_env(work: str) -> None:
    """Size the session for this machine through the environment only
    (the program reads these in `session.get_spark`); values already in
    the environment win."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))
    # Arrow UDF workers import the program by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # temp files of every JVM (spark-submit's launcher and Spark's) too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for the JVM and
    the python workers under it to end."""
    from spans import descendants

    gw = spark.sparkContext._gateway
    jvm = gw.proc
    under = descendants(jvm.pid)
    spark.stop()
    gw.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in under) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description="sync-engine benchmark, one run")
    p.add_argument("--workload", required=True, choices=("sync", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    missing = [r for r in REQUIRED if not os.path.isfile(os.path.join(ROOT, r))]
    if missing:
        print(f"error: the program is not next to {HERE}: missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)

    from pulsar_sync_java_spark.session import get_spark
    from spans import Tracer, peak_rss_mb

    if a.workload == "sync":
        from sync import SyncWorkload

        workload = SyncWorkload(work, a.seed)
    else:
        from analytics import AnalyticsWorkload

        workload = AnalyticsWorkload(ROOT, work, a.seed)
    spark = get_spark(app_name=f"syncbench-{a.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        workload.warm_up(spark)
        setup_s = time.perf_counter() - T_START
        tracer = Tracer(spark, bool(a.trace))
        workload.measure(spark, tracer, a.seconds)
        checks = workload.check(spark)
        res = workload.metrics(spark, tracer)
        res["e2e"]["setup_s"] = setup_s
        res["e2e"]["peak_rss_mb"] = peak_rss_mb(spark)
        if a.trace:
            res["layer"]["trace.overhead_s"] = tracer.overhead_s
            tracer.write(os.path.join(work, "spans.json"))
    finally:
        stop_spark(spark)
    # the inputs are regenerated by every run; keep only reports and spans
    for d in ("src", "dst", "tables", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + sum(not ok for ok in checks.values())
    report(a, res, checks, attempted, failed)
    values = res["layer"] if a.trace else res["e2e"]
    if a.trace:
        unknown = set(values) - {m["name"] for m in spec}
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload does not call reports 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def report(a, res: dict, checks: dict, attempted: int, failed: int) -> None:
    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cpus={os.environ['SPARK_GRAFT_CPUS']} mem={os.environ.get('SPARK_GRAFT_DRIVER_MEM', 'default')}")
    rows = list(res["e2e"].items())
    rows.append(("error_rate", f"{failed / attempted:.4f} ({failed}/{attempted}: "
                               f"{res['note']}, {len(checks)} checks)"))
    rows += [(f"check {k}", "ok" if ok else "FAILED") for k, ok in checks.items()]
    rows += list(res.get("layer", {}).items())
    for k, v in rows:
        print(f"#   {k:<36} {v:.4f}" if isinstance(v, float) else f"#   {k:<36} {v}")


if __name__ == "__main__":
    sys.exit(main())
