"""Host-side measurements: CPU and resident memory (PSS) of the benchmark's
process tree (this Python driver, the JVM it launches, and the JVM's
Python workers), read from /proc; and the Spark-free parse-kernel
control."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+sys CPU of the live tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st:
            # utime stime cutime cstime (fields 14-17 of /proc/pid/stat)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the tree: pages shared between processes
    (the Python worker daemon and its forked workers) count once."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


class PeakRss:
    """Samples the tree's resident memory (PSS) on a thread; ``peak_mb``
    is the max."""

    def __init__(self, root: int, every_s: float = 0.2):
        self.root, self.every_s = root, every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


def steal_s() -> float:
    """CPU time the hypervisor ran something else on this VM's CPUs (all
    CPUs summed, since boot): a contended host shows here."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def kernel_control(world, per_host: int = 40, min_s: float = 0.5) -> dict:
    """The fetch stage's per-page Python kernel (``World.fetch`` ->
    ``parse_spans.spans_columns``) in this one process, no Spark, over a
    fixed page set (the first ``per_host`` product pages of each host).
    Repeats the set until ``min_s`` has passed."""
    from webcrawlerfull_spark.operators.parse_spans import spans_columns

    pages = []
    for seed_url in world.seeds():
        host = seed_url.split("/")[2]
        path = world._host_params(host)["product_path"]
        pages += [(f"https://{host}{path(pid)}", host) for pid in range(per_host)]
    n = 0
    w0, c0 = time.monotonic(), time.process_time()
    while n == 0 or time.monotonic() - w0 < min_s:
        for url, host in pages:
            html = world.fetch(url)
            if html is not None:
                spans_columns(html, url, host)
            n += 1
    wall, cpu = time.monotonic() - w0, time.process_time() - c0
    return {"pages_per_s": n / wall, "cpu_s_per_page": cpu / n}
