"""Shared machinery for the benchmark: the box-sized Spark session, the
closed-loop timer, the output check bookkeeping, process-tree memory and the
co-tenant noise canary.

Everything here runs from the root of a checkout; the workload modules in
this directory call the engine (``warcio_spark``) only through its public
functions.
"""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")


def box():
    """nproc and physical RAM (bytes) of the machine we run on."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return len(os.sched_getaffinity(0)), ram


def driver_memory() -> str:
    """An explicit driver heap well below physical RAM: a quarter of it,
    between 1 and 4 GiB. The box is shared, and the inputs are sized to fit."""
    _, ram = box()
    return "{0}g".format(max(1, min(4, ram // (4 << 30))))


def start_spark(workdir: str):
    """The session every workload uses: ``warcio_spark.session.get_spark``
    with cpus = nproc, an explicit driver heap and the engine's own SQL
    confs. The additions only keep every file the run writes inside
    ``workdir`` and turn off the console progress bar."""
    from warcio_spark.session import get_spark

    cpus, _ = box()
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    # an inherited SPARK_LOCAL_DIRS would win over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        memory=driver_memory(),
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={0}".format(tmp),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def environment(spark) -> dict:
    """What a result must carry so conf drift between two commits shows."""
    import pyspark

    cpus, ram = box()
    return {
        "nproc": cpus,
        "ram_bytes": ram,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


# ---------------------------------------------------------------- statistics

def summarize(values: list) -> dict:
    """Median, interquartile spread as a share of the median, and count."""
    vals = sorted(values)
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
    else:
        spread = 0.0
    return {"median": med, "spread": spread, "n": len(vals)}


# ------------------------------------------------------------ closed loop

class Loop:
    """A closed loop with one client: each timed operation starts when the
    previous one has finished. An operation is failed when it raises or when
    its output check rejects it; nothing is retried."""

    def __init__(self):
        self.times: list = []
        self.ok: list = []
        self.errors: list = []

    def run_once(self, op, check) -> bool:
        t0 = time.perf_counter()
        try:
            out = op()
        except Exception as exc:  # a failed operation is data, not a crash
            self.times.append(time.perf_counter() - t0)
            self.ok.append(False)
            self.errors.append(repr(exc)[:500])
            return False
        self.times.append(time.perf_counter() - t0)
        good = check(out)
        self.ok.append(good)
        if not good:
            self.errors.append("output check failed: {0!r}".format(out)[:500])
        return good

    def run_for(self, seconds: float, op, check, min_ops: int) -> None:
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(self.times) < min_ops:
            self.run_once(op, check)

    @property
    def attempted(self) -> int:
        return len(self.ok)

    @property
    def failed(self) -> int:
        return self.ok.count(False)

    def good_times(self, first: int) -> list:
        """Times of the first ``first`` operations that passed; all of the
        first ``first`` if none did, so a fully failed run still reports
        what it measured. A fixed window samples every commit at the same
        operation indices, wherever its warm-up curve has got to."""
        window = list(zip(self.times, self.ok))[:first]
        return [t for t, ok in window if ok] or [t for t, _ in window]


# ------------------------------------------------- process tree accounting

def descendants(pid: int) -> list:
    """``pid`` and every live process under it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        for path in glob.glob("/proc/{0}/task/*/children".format(p)):
            try:
                with open(path) as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
    return out


def _status_kb(pid: int, field: str) -> int:
    with open("/proc/{0}/status".format(pid)) as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _pss_bytes(pid: int) -> int:
    try:
        with open("/proc/{0}/smaps_rollup".format(pid)) as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakMemory:
    """Peak resident memory of the engine's processes: the driver JVM plus
    the Python processes (this driver, and the pyspark daemon and workers
    under the JVM).

    The JVM's figure is its kernel-recorded peak RSS (``VmHWM``), exact and
    unsampled. The Python processes are forked from one daemon and share
    pages, so they are counted by proportional set size, sampled twice a
    second; their peak is added to the JVM's. The benchmark's own helper
    processes, such as the input generator's pool, are not under the JVM
    and are left out."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.python_peak = 0
        self.jvm_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = [os.getpid()] + descendants(self.jvm_pid)[1:]
        self.python_peak = max(self.python_peak, sum(map(_pss_bytes, pids)))

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        self.jvm_peak = _status_kb(self.jvm_pid, "VmHWM") * 1024

    @property
    def peak(self) -> int:
        return self.jvm_peak + self.python_peak


class Canary:
    """Co-tenant CPU seconds over a window: box-wide busy CPU minus the CPU
    of this process tree, with the /proc accounting of
    ``scripts/_scaling_child.py``; plus the 1-minute load at the end."""

    def __init__(self):
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        try:
            from _scaling_child import box_busy, tree_cpu
        finally:
            sys.path.pop(0)
        self._busy, self._tree = box_busy, tree_cpu
        self.cotenant_cpu_s = None
        self.self_cpu_s = None
        self.steal_s = None
        self.load_1m = None

    def __enter__(self):
        self._b0, self._c0, self._s0 = self._busy(), self._tree()[0], _steal()
        return self

    def __exit__(self, *exc):
        busy, cpu = self._busy() - self._b0, self._tree()[0] - self._c0
        self.self_cpu_s = cpu
        self.cotenant_cpu_s = busy - cpu
        self.steal_s = _steal() - self._s0
        self.load_1m = os.getloadavg()[0]


def _steal() -> float:
    """CPU seconds the hypervisor gave to other guests (/proc/stat steal)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ output digests

def _fmt(v) -> str:
    """A value as Spark's cast to string writes it."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def py_digest(rows, blob_index: int | None = None) -> tuple:
    """(count, order-independent hash) of rows, computed in Python exactly
    as ``spark_digest`` computes it in Spark: each row's hash is the first
    60 bits of md5(fields joined by 0x1f [+ the blob column's bytes]), and
    the hashes are summed."""
    h = n = 0
    for row in rows:
        fields = [v for i, v in enumerate(row) if i != blob_index]
        data = "\x1f".join(_fmt(v) for v in fields).encode("utf-8")
        if blob_index is not None:
            data += row[blob_index] or b""
        h += int(hashlib.md5(data).hexdigest()[:15], 16)
        n += 1
    return n, h


def spark_digest(df, cols, blob: str | None = None, extra=()) -> tuple:
    """One-row aggregate over every output row of ``df``: (count, hash sum,
    *extra aggregates). Consuming the output this way forces every row."""
    from pyspark.sql import functions as F

    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("~"))
                                for c in cols]).cast("binary")
    if blob is not None:
        key = F.concat(key, F.coalesce(F.col(blob), F.lit(bytearray())))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)), F.sum(h), *extra).collect()[0]
    return (int(r[0]), int(r[1] or 0)) + tuple(r[2:])
