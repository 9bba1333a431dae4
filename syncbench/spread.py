"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR / median), the statistic
BENCHMARK.json's bounds are checked against.

    python3 syncbench/spread.py --workload sync --seeds 1 2 3 4 5
    python3 syncbench/spread.py --workload sync analytics --seeds 1 2 3 --sets 2

With several workloads or --sets N, the runs alternate: for each seed,
one run of every set of every workload, set k using seed + 1000 * k, so
that a slow spell of the host falls on all of them alike.  With two or
more sets it also reports, per metric, how far each later set's median
is from the first set's, as a share of the first (the agreement check
between two sets of runs of the same code).

Each run is a fresh process: BENCHMARK.json's command with --trace 0
and its run_seconds, from the repository root; each run's report is
kept in syncbench/.work/spread/<workload>-<seed>.txt, its stderr in
<workload>-<seed>.err.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, nargs="+")
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--sets", type=int, default=1)
    a = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    # each run's full report, kept for diagnosis
    keep = os.path.join(HERE, ".work", "spread")
    os.makedirs(keep, exist_ok=True)
    # (workload, set) -> metric -> values
    values: dict[tuple[str, int], dict[str, list[float]]] = {}
    for base in a.seeds:
        for k in range(a.sets):
            for w in a.workload:
                seed = base + 1000 * k
                t0 = time.time()
                log = os.path.join(keep, f"{w}-{seed}")
                with open(log + ".err", "w") as err:
                    out = subprocess.run(
                        bench["command"] + ["--workload", w, "--seed", str(seed),
                                            "--seconds", str(bench["run_seconds"]),
                                            "--trace", "0"],
                        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                        stderr=err, text=True,
                    )
                with open(log + ".txt", "w") as f:
                    f.write(out.stdout)
                if out.returncode != 0:
                    print(f"{w} seed {seed}: exit {out.returncode}, see {log}.err",
                          file=sys.stderr)
                    return 1
                res = json.loads(out.stdout.strip().splitlines()[-1])
                if not res["correct"]:
                    print(f"{w} seed {seed}: incorrect result {res}", file=sys.stderr)
                    return 1
                for name, m in res["metrics"].items():
                    values.setdefault((w, k), {}).setdefault(name, []).append(m["value"])
                print(f"{w} set {k} seed {seed}: {time.time() - t0:.1f}s "
                      + " ".join(f"{n}={m['value']:.3f}" for n, m in res["metrics"].items()),
                      flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workload:
        for name, bound in bounds.items():
            medians = []
            for k in range(a.sets):
                vs = values[(w, k)][name]
                med = statistics.median(vs)
                medians.append(med)
                line = f"{w:<10} set {k} {name:<14} median={med:.4f}"
                if len(vs) > 1:
                    q1, _, q3 = statistics.quantiles(vs, n=4)
                    spread = (q3 - q1) / med
                    verdict = ("ok" if spread < bound / 3
                               else "WIDE" if spread > bound else "within")
                    line += f" spread={spread:.3f} bound={bound} {verdict}"
                if k:
                    moved = (med - medians[0]) / medians[0]
                    line += (f" vs set 0: {moved:+.3f} "
                             f"{'ok' if abs(moved) <= bound else 'DRIFT'}")
                print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
