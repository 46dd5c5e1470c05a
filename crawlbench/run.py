"""Crawl-and-parse benchmark: one command, one driver process.

    python3 crawlbench/run.py --workload crawl-default --seed 0 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  A layer the workload does not run reports 0.
Scratch files live under ``.crawlbench_work/`` and are deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlbench import harness as H  # noqa: E402


def _stop_jvm() -> None:
    """Shut the py4j gateway's JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl-default", "parse-feeds"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(H.ROOT, "hepcrawl_spark", "__init__.py")):
        H.log(f"no hepcrawl_spark package under {H.ROOT}; run from a full checkout")
        return 2
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    scratch = H.prepare_env()
    try:
        if args.workload == "crawl-default":
            from crawlbench import crawl_workload as workload
        else:
            from crawlbench import parse_workload as workload
        out = workload.run(scratch, args.seed, args.seconds, bool(args.trace))
        _stop_jvm()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(H.WORK)
        except OSError:
            pass

    if args.trace:
        values = out["values"]
        metrics = {
            m["name"]: H.metric(values.get(m["name"], 0.0), m["unit"])
            for m in spec["per_layer"]
        }
        unknown = set(values) - set(metrics)
        if unknown:
            raise KeyError(f"per-layer values missing from BENCHMARK.json: {sorted(unknown)}")
    else:
        metrics = out["metrics"]
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
