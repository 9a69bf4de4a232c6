"""The drift sentinel on its own, for runs of the repository's other
benchmarks (``bench.py``, ``tools/check_correctness.py``):

    python3 perfbench/sentinel.py

Starts an isolated Spark session the way a benchmark run does, times the
sentinel three times after one warm-up, and prints the median as
``metric sentinel_ms <value> ms``. Run it before and after the other tool.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import isolate, sentinel_ms, start_spark, stop_spark  # noqa: E402


def main() -> int:
    work = os.path.join(ROOT, ".perfbench", f"sentinel-{os.getpid()}")
    isolate(work)
    spark = None
    try:
        spark = start_spark(work)
        sentinel_ms(spark)
        value = statistics.median(sentinel_ms(spark) for _ in range(3))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"metric sentinel_ms {value!r} ms")
    return 0


if __name__ == "__main__":
    sys.exit(main())
