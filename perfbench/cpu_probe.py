"""All-core integer-loop throughput in M ops/s, printed on stdout.

    python3 perfbench/cpu_probe.py <processes>

Run as a clean child process before the Spark session starts: on a host
whose cores are shared, probing with the py4j JVM alive reads about 18% low.
"""

import multiprocessing as mp
import sys
import time

WORK = 1_500_000


def burn(n: int) -> int:
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFF
    return x


if __name__ == "__main__":
    procs = int(sys.argv[1])
    with mp.get_context("spawn").Pool(procs) as pool:
        pool.map(burn, [1000] * procs)      # workers up before the clock
        t0 = time.perf_counter()
        pool.map(burn, [WORK] * procs)
        print(procs * WORK / (time.perf_counter() - t0) / 1e6)
