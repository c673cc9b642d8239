"""Shared pieces of the benchmark: statistics, the host/config stamp,
session-level probes for the drift and leak guard, and a REST client
for the Spark UI status API (traced runs only)."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# percentiles a tail may name; the highest one with >= 10 samples beyond it wins
TAIL_LADDER = (99, 95, 90, 75, 50)


class CheckFailed(AssertionError):
    """An output check failed: the run must not report a result."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[int(k)]


def tail(xs):
    """(value, "pNN") for the highest ladder percentile that has at
    least ten samples beyond it, or (None, None) if there are too few."""
    for p in TAIL_LADDER:
        if len(xs) * (100 - p) / 100 >= 10:
            return percentile(xs, p), f"p{p}"
    return None, None


def kendall_tau(xs) -> float:
    """Rank correlation of a series with its index: +1 rising, -1 falling."""
    n = len(xs)
    if n < 3:
        return 0.0
    s = sum(
        (xs[j] > xs[i]) - (xs[j] < xs[i])
        for i in range(n) for j in range(i + 1, n)
    )
    return s / (n * (n - 1) / 2)


def trend(xs, rel_floor: float = 0.0) -> dict:
    """Monotone-trend flag for a per-iteration series. A series that
    only rises (or only falls) across the timed iterations, by more
    than ``rel_floor`` of its first value, is flagged."""
    if len(xs) < 3:
        return {"tau": 0.0, "monotone": False}
    rising = all(b >= a for a, b in zip(xs, xs[1:]))
    falling = all(b <= a for a, b in zip(xs, xs[1:]))
    span = abs(xs[-1] - xs[0])
    moved = span > rel_floor * max(abs(xs[0]), 1e-12) and span > 0
    return {
        "tau": round(kendall_tau(xs), 3),
        "monotone": bool((rising or falling) and moved),
    }


# --- host and config stamp --------------------------------------------------


def source_id() -> dict:
    """git sha when the checkout is a git repository, and in every case
    a digest of the engine sources, so a record names the code it ran."""
    out = {}
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
        if sha.returncode == 0:
            out["git_sha"] = sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "finmapreduce_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    out["engine_sha256"] = h.hexdigest()
    return out


def host_stamp(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "master": sc.master,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": sys.version.split()[0],
        "platform": platform.platform(),
        "spark_conf": dict(sorted(sc.getConf().getAll())),
        **source_id(),
    }


# --- session probes (drift and leak guard) -----------------------------------


def gc_seconds(spark) -> float:
    """Total GC time of the driver JVM (local mode: also the executor)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def storage_mem_mb(spark) -> float:
    """Storage memory in use across block managers."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    used = 0
    while it.hasNext():
        t = it.next()
        used += t._1() - t._2()
    return used / 2**20


def steal_s() -> float:
    """CPU time the hypervisor took from this host (Linux /proc/stat),
    summed over CPUs: a record of noise from outside the run."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU time (user + system) of this process and all its live
    descendants, plus what they have reaped: the driver, the JVM and its
    Python workers. Time the hypervisor steals is not in it."""
    root = root or os.getpid()
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(name)] = int(rest[1])
        cpu[int(name)] = sum(int(x) for x in rest[11:15])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p and p != root:
            p = parent.get(p)
        if p == root:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


class Meter:
    """Wall time, process-tree CPU time and host steal over a block."""

    def __enter__(self):
        self._t, self._c, self._s = time.perf_counter(), tree_cpu_s(), steal_s()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t
        self.cpu_s = tree_cpu_s() - self._c
        self.steal_s = steal_s() - self._s
        return False

    def as_dict(self) -> dict:
        return {"wall_s": self.wall_s, "cpu_s": self.cpu_s, "steal_s": self.steal_s}


# Reference job for host speed: a fixed Spark job of the same mix as
# the workloads (codegen, an Arrow Python stage with per-row Python work,
# a shuffle) that uses no engine code. Its CPU time, measured in the
# same process as the workload, tracks how fast this host runs right now.
REF_ROWS = 60_000
# The reference job's CPU seconds on a quiet 4-vCPU host (measured 2.5
# to 2.6 s warm). Scaled figures read "as if the host ran at that speed".
REF_NOMINAL_CPU_S = 2.5


def reference_job(spark) -> float:
    """Run the reference job once; its process-tree CPU seconds."""
    from pyspark.sql import functions as F

    def per_row_python(batches):
        for pdf in batches:
            yield pdf.assign(n=pdf["h"].map(lambda s: sum(map(ord, s * 8))))

    df = spark.range(0, REF_ROWS, numPartitions=4).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    with Meter() as m:
        (
            df.mapInPandas(per_row_python, "id long, h string, n long")
            .groupBy((F.col("id") % 97).alias("k"))
            .agg(F.sum("n"))
            .collect()
        )
    return m.cpu_s


def session_probe(spark) -> dict:
    return {
        "persisted_rdds": persisted_rdds(spark),
        "storage_mem_mb": round(storage_mem_mb(spark), 3),
        "gc_s": gc_seconds(spark),
        "host_steal_s": steal_s(),
    }


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory, ignoring hidden/underscore files."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


# --- Spark UI REST status API -------------------------------------------------


class Rest:
    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("traced run needs spark.ui.enabled=true")
        port = url.rstrip("/").rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size(value: str) -> float:
    """Bytes from a SQL size metric: '12.3 KiB', or the first figure of
    'total (min, med, max ...)\\n12.3 KiB (...)'."""
    for line in reversed(str(value).splitlines()):
        parts = line.replace(",", "").split()
        for i, tok in enumerate(parts[:-1]):
            unit = parts[i + 1]
            if unit in _SIZE:
                try:
                    return float(tok) * _SIZE[unit]
                except ValueError:
                    continue
    return 0.0


def dump(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)
