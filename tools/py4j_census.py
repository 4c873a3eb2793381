"""Per-query plan-construction census: py4j round trips + build wall.

Counts JVM round trips (GatewayClient.send_command) and wall seconds for
each catalog query's build() alone — no execution. Call counts are
deterministic and load-invariant (like qmetrics); build wall carries host
smear. Use it to find queries whose DRIVER-side plan construction is the
cost (guide §7.3 "planning time as the bottleneck").

py4j's object-release messages are not counted: Python's garbage
collector sends them at timing-dependent moments, and counting them made
per-query figures swing by thousands between identical runs. The last
line is the total over the queries run.

Usage: python tools/py4j_census.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import py4j.clientserver  # noqa: E402
import py4j.java_gateway  # noqa: E402
import py4j.protocol  # noqa: E402

_COUNT = {"n": 0}


_RELEASE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME


def _patch() -> None:
    for cls in (py4j.java_gateway.GatewayClient, py4j.clientserver.JavaClient):
        orig = cls.send_command

        def wrapped(self, command, *a, _orig=orig, **kw):
            if not command.startswith(_RELEASE):
                _COUNT["n"] += 1
            return _orig(self, command, *a, **kw)

        cls.send_command = wrapped


def main() -> None:
    _patch()
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.1"

    from victor_spark import get_spark
    from victor_spark.plans import QUERIES

    names = args or list(QUERIES)
    spark = get_spark("py4j_census")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in names:
        before = _COUNT["n"]
        t0 = time.perf_counter()
        QUERIES[name].build(spark, sf_dir)
        wall = time.perf_counter() - t0
        rows.append((name, _COUNT["n"] - before, wall))

    rows.sort(key=lambda r: -r[1])
    for name, calls, wall in rows:
        print(f"{name:32s} {calls:7d} calls  {wall:7.2f}s build")
    print(f"{'TOTAL':32s} {sum(r[1] for r in rows):7d} calls  "
          f"{sum(r[2] for r in rows):7.2f}s build")


if __name__ == "__main__":
    main()
