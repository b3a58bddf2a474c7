"""Build one workload's inputs and oracle results for one seed.

    python3 perfbench/prepare.py <workload module> <seed>

run.py starts this as a child process, after the work directory is
isolated and before the measured process tree starts, so that input
generation and the oracles (the DuckDB twin, the reference simulator)
neither count in the run's peak memory nor leave their heap in it.
Results are cached under .bench_cache/ by (seed, size); a second call
with the same arguments does nothing.
"""

import importlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

if __name__ == "__main__":
    sys.path[:1] = [HERE, os.path.dirname(HERE)]
    importlib.import_module(sys.argv[1]).prepare(int(sys.argv[2]))
