"""Host record, summary statistics and the single-layer microbenchmarks
(analyzer, codec, query parser) the traced run reports."""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

# A healthy host copies at 5-10 GB/s; a throttled one reads ~0.4 GB/s.
THROTTLED_GBPS = 2.0


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it, never
    below the median. Returns (value, label); below 21 samples the median
    is the highest such percentile."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return median(s), "p50"
    return float(s[n - 11]), f"p{math.floor(100 * (n - 10) / n)}"


def timing(xs) -> dict:
    t, label = tail(xs)
    return {"p50": median(xs), "tail": t, "tail_pct": label, "n": len(xs)}


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """{pid: (parent pid, CPU seconds of the process and of its children
    it has reaped)} for every live process, from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    x = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while listed
            # fields 14-17 of stat: utime, stime, cutime, cstime
            out[int(d)] = (int(x[1]), sum(map(int, x[11:15])) / _TICK)
    return out


def descendants(pid: int, table=None) -> list[int]:
    """PIDs of every live process below `pid` (the JVM and the Python
    workers it forks)."""
    parent = table or _proc_table()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, (pp, _) in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def cpu_s(tree: bool) -> float:
    """CPU seconds this process has used (all its threads, nanosecond
    clock), plus with `tree` those of every live descendant and of the
    children each has reaped (clock-tick resolution). Time the host
    steals from the VM is charged to no process, so unlike wall time this
    does not grow when neighbours load the host."""
    return time.process_time() + (children_cpu_s() if tree else 0.0)


def children_cpu_s() -> float:
    """CPU seconds of every descendant of this process: the live ones,
    and the children that this process or any live descendant reaped."""
    table = _proc_table()
    t = os.times()
    return (t.children_user + t.children_system
            + sum(table[p][1] for p in descendants(os.getpid(), table)))


def mem_bw_gbps() -> float:
    """Single-process NumPy copy bandwidth over a 200 MB array."""
    a = np.empty(25_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(3):
        a.copy()
    return 3 * a.nbytes * 2 / (time.perf_counter() - t0) / 1e9


_CAL_ARRAY = np.random.Generator(np.random.PCG64(0)).random(200_000)


def calibration_ms() -> float:
    """CPU milliseconds of one fixed single-threaded task (a pure-Python
    loop and a NumPy sort), the yardstick for the host's speed at the
    moment: the cost metrics are CPU times in units of it."""
    t0 = time.thread_time()
    x = 0
    for i in range(30_000):
        x += i * i
    np.sort(_CAL_ARRAY)
    return (time.thread_time() - t0) * 1e3


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def empty_job_ms(sc, reps: int = 3) -> float:
    """Median wall of one trivial one-task job: the scheduling floor every
    distributed op pays per job."""
    sc.parallelize([0], 1).count()
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        sc.parallelize([0], 1).count()
        out.append((time.perf_counter() - t0) * 1e3)
    return median(out)


def _best_of(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return median(out)


def analyzer_tokens_per_s(texts: list[str]) -> float:
    from miru_spark.analyzer import analyze_block

    n_tokens = int(np.sum(analyze_block(texts)[3]))
    return n_tokens / _best_of(lambda: analyze_block(texts))


def codec_postings_per_s(blobs: list[bytes]) -> tuple[float, float]:
    """(encode, decode) postings per second over posting-id blobs read
    from a built index."""
    from miru_spark.codec import decode_postings, encode_postings

    arrays = [decode_postings(b) for b in blobs]
    n = sum(a.size for a in arrays)
    dec = _best_of(lambda: [decode_postings(b) for b in blobs])
    enc = _best_of(lambda: [encode_postings(a) for a in arrays])
    return n / enc, n / dec


def parse_us(queries: list[str]) -> float:
    from miru_spark.queryparse import parse_query

    reps = 20
    t = _best_of(lambda: [parse_query(q) for _ in range(reps) for q in queries])
    return t / (reps * len(queries)) * 1e6
