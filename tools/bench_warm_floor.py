"""Cold-vs-warm floor measurement for the frozen bench suite.

Runs ``bench.main()`` TWICE in one process against the same data dir: the
first pass is the driver's cold shape (fresh JVM, first-run whole-stage
codegen JIT of every plan shape); the second reuses the session, so its
per-query walls are the warm plan-execution floor. The delta per query is
the first-run infrastructure term (JIT + first-touch), NOT plan cost —
evidence for which residuals are optimizable and which are harness floor.

``bench.py`` itself is untouched (frozen for measurement); the only
adjustment here is giving the second pass a distinct crawl state dir
(bench keys it on the pid, which is shared within one process).

Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 python tools/bench_warm_floor.py
Prints the two bench JSON lines (cold first, warm second).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import bench

    getpid = os.getpid
    real = getpid()
    print("=== RUN1 (cold) ===", flush=True)
    bench.main()
    # second pass: same session (get_spark getOrCreate), fresh state dir.
    # bench.os is the process-wide os module, so put getpid back after.
    bench.os.getpid = lambda: real + 1_000_000
    try:
        print("=== RUN2 (warm) ===", flush=True)
        bench.main()
    finally:
        bench.os.getpid = getpid


if __name__ == "__main__":
    main()
