#!/usr/bin/env python3
"""tcbench — end-to-end and per-layer benchmark of tcdb_spark.

    python3 tcbench/run.py --workload season_ticks --seed 1 --seconds 5 --trace 0

Run from the repository root.  One process, one Spark session
(``local[nproc]``), one workload:

- ``season_ticks``  (pipeline.py): the live b-deck -> a-deck -> syntrack
  -> maintenance loop over a seeded season, with storm-dataset reads;
- ``curation_lanes`` (lanes.py): one cache-cold pass over the ten
  oracle-registered vector, dedup and graph lanes of the catalog on
  tables generated from the seed.

A run sets up (session, inputs, warm-up), then measures exactly one
whole round of the workload: the same operations on every run, so runs
are comparable.  A round takes far longer than the ``--seconds`` that
BENCHMARK.json sets; a shorter one is reported on stderr.  Every output
is checked against a computation made apart from the program.  The last
stdout line is the result: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0`` (processor seconds of set-up and round), its per-layer
metrics with ``--trace 1``.  The line before it records the box (load,
the host's steal share, cores, heap, JIT, a CPU calibration) and the
wall times.

``--size small`` shrinks the inputs for the benchmark's own test.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HEAP = "3g"
# C1 only: C2 compiles cost a third of a cold round's processor time
# without shortening the round
JIT = "-XX:TieredStopAtLevel=1"

SIZES = {
    "season_ticks": {"full": {"members": 24}, "small": {"members": 6}},
    "curation_lanes": {"full": {"sf": 0.01}, "small": {"sf": 0.002}},
}


def calibrate() -> float:
    """Median seconds of a fixed single-core hashing loop."""
    buf = b"\x5a" * (1 << 20)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(32):
            h.update(buf)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, ..., steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the host withheld (steal) in between."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def clean_stale(work: str) -> None:
    """Remove run directories left behind by runs that were killed."""
    if not os.path.isdir(work):
        return
    for d in os.listdir(work):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and int(pid) != os.getpid():
            try:
                os.kill(int(pid), 0)
                continue
            except ProcessLookupError:
                pass
            except PermissionError:
                continue
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)


class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def start_spark(run_dir: str, cpus: int):
    from tcdb_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "tcbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "tcdb.scratch.dir": os.path.join(run_dir, "scratch"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # never leave the JVM behind
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "small"), default="full")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, "tcdb_spark", "session.py")):
        print("tcbench: tcdb_spark not found beside the benchmark; run from a full checkout",
              file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    clean_stale(WORK)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    os.environ["PYTHONPATH"] = os.pathsep.join(x for x in (ROOT, HERE, os.environ.get("PYTHONPATH")) if x)
    sys.path[:0] = [ROOT, HERE]
    cpus = len(os.sched_getaffinity(0))
    box = {"load_before": os.getloadavg(), "nproc": cpus, "heap": HEAP, "jit": JIT,
           "calib_s": calibrate()}
    ticks = cpu_ticks()

    import lanes
    import pipeline
    from trace import Tracer, tree_cpu_s

    spark = None
    try:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        spark = start_spark(run_dir, cpus)
        session = {"s": time.perf_counter() - t0, "cpu_s": tree_cpu_s() - c0}
        ctx = Ctx(spark=spark, tracer=Tracer(spark, bool(args.trace)), work=run_dir,
                  seed=args.seed, size=SIZES[args.workload][args.size])
        workload = {"season_ticks": pipeline, "curation_lanes": lanes}[args.workload]
        res = workload.run(ctx)
        layer = res["trace"]() if args.trace else {}
        callsites = ctx.tracer.callsites() if args.trace else {}
    finally:
        if spark is not None:
            stop_spark(spark)
        box["load_after"] = os.getloadavg()
        box["steal_pct"] = steal_pct(ticks, cpu_ticks())
        shutil.rmtree(run_dir, ignore_errors=True)

    setup = [session] + res["setup"]
    wall = {"setup_s": sum(sp["s"] for sp in setup), "round_s": res["round"]["s"]}
    if wall["round_s"] < args.seconds:
        print(f"tcbench: round took {wall['round_s']:.1f}s, under --seconds {args.seconds}",
              file=sys.stderr)
    for sp in ctx.tracer.spans:
        print(f"tcbench: span {sp['layer']} {sp['name']} {sp['s']:.3f}s cpu {sp['cpu_s']:.2f}s",
              file=sys.stderr)
    for f in res["failures"]:
        print(f"tcbench: CHECK FAILED {f}", file=sys.stderr)
    if args.trace:
        names, values = spec["per_layer"], layer
    else:
        names = spec["end_to_end"]
        values = {
            "setup_s": sum(sp["cpu_s"] for sp in setup),
            "round_cpu_s": res["round"]["cpu_s"],
        }
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"box": box, "inputs": res["inputs"], "wall": wall,
                      "callsites": callsites}, default=str))
    print(json.dumps({"correct": not res["failures"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
