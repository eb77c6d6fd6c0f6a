"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Prints one line per metric (name, value,
unit), a ``detail`` JSON line for people, and as its last line the result
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics; a per-layer metric whose layer does not
run in the workload reads 0.  Exits non-zero, printing no result, when the
engine cannot be imported or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per process, so that runs sharing a checkout do not share scratch files
WORK = os.path.join(ROOT, "perfbench", "_work", str(os.getpid()))


def prepare_environment() -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside the
    checkout, and give the driver JVM a small fixed heap."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.pop("SPARK_GRAFT_NO_PRELOAD_DAEMON", None)


def cleanup() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(WORK))
    except OSError:  # another run still has its scratch there
        pass


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")

    prepare_environment()
    sys.path.insert(0, ROOT)
    try:
        from perfbench import batch, stream

        runner = stream.run if args.workload in stream.WORKLOADS else batch.run
        out = runner(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        cleanup()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = out.layers if args.trace else out.e2e
    if not args.trace:
        missing = [m["name"] for m in wanted if m["name"] not in measured]
        if missing:
            raise RuntimeError(f"workload did not measure {missing}")
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for table, vals in (("end_to_end", out.e2e), ("per_layer", out.layers)):
        units = {m["name"]: m["unit"] for m in spec[table]}
        for name in units:
            if name in vals:
                print(f"{table:10s} {name:28s} {vals[name]:16.6f} {units[name]}")
    print("detail " + json.dumps(out.detail, sort_keys=True))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
