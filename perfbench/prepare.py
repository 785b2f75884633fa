"""Build the benchmark's layout and answer pins, once per checkout, in a
process of its own: the JVM that then measures starts cold, like the
JVM of every later run.

Run by perfbench/run.py when perfbench/.work/ lacks them.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import workloads  # noqa: E402


def main():
    spark, _ = workloads.start_session(len(os.sched_getaffinity(0)))
    try:
        workloads.prepare(spark)
    finally:
        workloads.stop_session(spark)


if __name__ == "__main__":
    main()
