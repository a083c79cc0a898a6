"""Host facts and process accounting: the session sized to this host,
the weather record (load average, steal share), and the resident
memory of the driver JVM plus its Python workers, read from /proc."""

from __future__ import annotations

import os
import sys
import threading


def cores() -> int:
    """What `nproc` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Driver heap fitted to the host: a quarter of physical memory,
    between 1 and 8 GiB (local mode runs every task inside this JVM)."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1, min(8, kib // (4 * 1024 * 1024)))


def configure(root: str, work: str) -> dict:
    """Environment for the session; must run before the JVM starts.
    Spark's scratch space, the JVM's and Python's temp files stay in
    `work` (inside the checkout); `root` goes on PYTHONPATH so pandas-UDF
    workers can import the library."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    n, heap = cores(), heap_gb()
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n),
        SPARK_DRIVER_MEMORY=f"{heap}g",
        PYTHONPATH=root + (os.pathsep + path if path else ""),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # the JVM spark-submit starts to build the driver command line
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # a fixed heap and young generation (a quarter of the heap) keep the
    # JVM's resident size a function of what the job touches, not of
    # G1's run-to-run heap and young-generation resizing (which spread
    # peak_rss_mb by 25% across seeds)
    young_mb = heap * 256
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}g -Xmn{young_mb}m",
    }


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return delta[7] / total if total else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            return next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")) * 1024
    except (OSError, StopIteration):  # exited while reading
        return 0


def tree_pss_bytes(pid: int) -> tuple[int, int]:
    """Proportional resident bytes of `pid` alone and of `pid` with all
    its descendants. PSS splits pages shared between processes (the
    forked Python workers share their parent's) so the sum counts each
    page once."""
    kids = _children()
    own = _pss_bytes(pid)
    total, todo = own, list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        total += _pss_bytes(p)
    return own, total


class RssSampler:
    """Peak of `tree_pss_bytes(pid)` while running, sampled every
    `interval` seconds on a background thread."""

    def __init__(self, pid: int, interval: float = 0.1) -> None:
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self.peak_root = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        own, total = tree_pss_bytes(self.pid)
        self.peak_root = max(self.peak_root, own)
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
