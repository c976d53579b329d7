"""A fixed CPU and memory workload in a process of its own, used to read
how fast the host is at a given moment.

The benchmark starts it once per run and keeps it idle between requests:
every line read from stdin runs the workload once and answers with its
wall time in seconds; end of input ends the process. It runs no engine
code and shares no state with the Spark driver, so a change to the engine
or to the session configuration cannot move it.

The workload is one merge sort of 3M random 64-bit keys per core, the
cores working at once (numpy releases the GIL while sorting): scalar
integer comparisons and memory traffic well beyond the caches, like the
shuffles and window sorts of the benchmark's passes.

    python3 perfbench/yardstick.py 4 < /dev/null
"""

from __future__ import annotations

import sys
import threading
import time

import numpy as np

KEYS = 3_000_000


def main() -> None:
    cores = int(sys.argv[1])
    rng = np.random.default_rng(0)
    keys = [rng.integers(0, 2**63, KEYS, dtype=np.int64) for _ in range(cores)]

    def one() -> float:
        threads = [threading.Thread(target=np.sort, args=(k,), kwargs={"kind": "stable"})
                   for k in keys]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0

    one()  # page in the arrays and the sort code
    for _ in sys.stdin:
        print(repr(one()), flush=True)


if __name__ == "__main__":
    main()
