"""Write a run's inputs and expected results, in a process of their own.

    python3 perfbench/prepare.py <workload> <seed> <work_dir>

Generates what ``<workload>`` reads and the results it is checked against
under ``<work_dir>``, and writes the run information to
``<work_dir>/prepared.json``. ``run.py`` calls it before the Spark session
starts, so the memory data generation and the DuckDB oracles take is
never in the sampled process tree.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import workloads  # noqa: E402


def main(argv: list[str]) -> int:
    name, seed, work = argv[0], int(argv[1]), argv[2]
    info = workloads.WORKLOADS[name].prepare(seed, work)
    with open(os.path.join(work, "prepared.json"), "w") as f:
        json.dump(info, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
