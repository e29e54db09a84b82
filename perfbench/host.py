"""Host facts the benchmark records with every run: memory size, the process
tree's peak RSS, CPU steal and a write-bandwidth canary."""

from __future__ import annotations

import os
import shutil
import threading
import time


def host_memory_mb() -> int:
    """The smaller of physical memory and the cgroup limit."""
    with open("/proc/meminfo") as fh:
        mem = int(fh.readline().split()[1]) // 1024
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mem = min(mem, int(raw) // (1 << 20))
    return mem


def driver_memory_mb(host_mb: int) -> int:
    """3/8 of the host for the one local JVM (6 GB on a 16 GB host), within
    [1 GB, 16 GB]; the rest is left to Python workers and the page cache."""
    return max(1024, min(host_mb * 3 // 8, 16 << 10))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process and all its descendants
    (the JVM and its Python workers), sampled every 200 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(0.2):
            self.sample()

    def sample(self):
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in process_tree(os.getpid())))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def write_canary(path: str, threads: int = 4, mb_each: int = 64) -> float:
    """Aggregate parallel write bandwidth (GB/s) into the work directory: a
    low value flags a throttled host, not a slow engine."""
    os.makedirs(path, exist_ok=True)
    buf = b"x" * (8 << 20)

    def write(i: int) -> None:
        with open(os.path.join(path, f"bw-{i}"), "wb") as fh:
            for _ in range(mb_each // 8):
                fh.write(buf)
            fh.flush()
            os.fsync(fh.fileno())

    ts = [threading.Thread(target=write, args=(i,)) for i in range(threads)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wall = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    return threads * mb_each / 1024 / wall
