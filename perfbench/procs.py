"""Process-tree accounting from /proc: this Python process, the JVM it
launched, Spark's Python workers and any process pool, sampled on a thread.

Linux only; every read tolerates a process that exits mid-scan.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, command name) of ``pid``, or None if it is gone or a
    zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            raw = f.read()
    except OSError:
        return None
    # comm sits in parentheses and may itself contain spaces or ')'
    head, _, tail = raw.rpartition(")")
    state, ppid = tail.split()[:2]
    return None if state in "ZX" else (int(ppid), head.partition("(")[2])


def _cpu_ticks(stat_path: str) -> tuple[str, int, int]:
    """(command name, user + system clock ticks, ticks of the children the
    process has reaped) from a process's or a thread's ``stat`` file;
    ("", 0, 0) if it is gone. A thread's file repeats its process's
    reaped-children ticks."""
    try:
        with open(stat_path, encoding="utf-8") as f:
            head, _, tail = f.read().rpartition(")")
    except OSError:
        return "", 0, 0
    utime, stime, cutime, cstime = (int(x) for x in tail.split()[11:15])
    return head.partition("(")[2], utime + stime, cutime + cstime


TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")

#: the JVM's JIT compiler threads, by their thread names (which the kernel
#: cuts to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuClock:
    """Reads the CPU seconds used so far by a process tree: the root (this
    process), the JVM it launched, Spark's Python workers and any process
    pool, the live ones and, through their parents' reaped-children
    counters, those that have ended. Call it before and after an operation;
    the difference is what the operation cost in CPU.

    Three things are left out. Time the hypervisor gave to other guests
    (steal), which the kernel charges to no process, so this clock does not
    run faster on a busy host the way the wall clock does. The JVM's JIT
    compiler threads (``jit_s`` keeps their time): compiling is the JVM's
    own warm-up, it runs on threads of its own beside the operations, and
    how much of it lands in a given operation depends on when the compile
    queue drains. And the root's threads in ``skip_tids`` (the benchmark's
    memory sampler, whose reads of the JVM's ``smaps`` cost tens of
    milliseconds each); such a thread must outlive the last read, or its
    time moves into the process total when it ends.

    The JVM's compiler threads are read one by one and their time taken
    from the JVM's total. The JVM starts and stops compiler threads as its
    queue grows and shrinks; one that has ended keeps being taken off at
    its last reading, so only the time it used after that counts as the
    JVM's."""

    def __init__(self, skip_tids=()):
        self.root = os.getpid()
        self.skip_tids = skip_tids
        self.jvm: int | None = None
        self._names: dict[str, str] = {}  # JVM thread id -> thread name
        self._jit_ticks: dict[str, int] = {}  # compiler thread id -> ticks at its last reading

    @property
    def jit_s(self) -> float:
        """CPU seconds of the JVM's compiler threads, as of the last read."""
        return sum(self._jit_ticks.values()) * TICK_S

    def _read_jvm(self) -> int:
        task = f"/proc/{self.jvm}/task"
        for tid in os.listdir(task):
            if tid not in self._names:
                try:
                    with open(f"{task}/{tid}/comm", encoding="utf-8") as f:
                        self._names[tid] = f.read().rstrip("\n")
                except OSError:  # ended since the listing
                    continue
            if self._names[tid] in JIT_THREADS:
                name, t, _ = _cpu_ticks(f"{task}/{tid}/stat")
                if name:
                    self._jit_ticks[tid] = t
        _, own, reaped = _cpu_ticks(f"/proc/{self.jvm}/stat")
        return own + reaped - sum(self._jit_ticks.values())

    def __call__(self) -> float:
        ticks = 0
        for pid in (self.root, *descendants(self.root)):
            if pid == self.jvm:
                ticks += self._read_jvm()
            else:
                _, own, reaped = _cpu_ticks(f"/proc/{pid}/stat")
                ticks += own + reaped
        for tid in self.skip_tids:
            ticks -= _cpu_ticks(f"/proc/{self.root}/task/{tid}/stat")[1]
        return ticks * TICK_S


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, each shared page split
    between its sharers. Summing RSS instead would count a forked child
    that has not exec'd yet (the JVM spawns its Python workers that way)
    as a second copy of the JVM's heap."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _pss_split_mb(pid: int, lo: int, hi: int) -> tuple[float, float]:
    """(PSS of ``pid``, PSS of its mappings inside the address range
    [lo, hi)), from one read of its smaps."""
    total = inside = 0
    in_range = False
    try:
        with open(f"/proc/{pid}/smaps", encoding="utf-8") as f:
            for line in f:
                if line.startswith("Pss:"):
                    kb = int(line.split()[1])
                    total += kb
                    inside += kb if in_range else 0
                elif not line[0].isupper():  # a mapping's header: start-end perms ...
                    start, _, end = line.partition(" ")[0].partition("-")
                    in_range = lo <= int(start, 16) and int(end, 16) <= hi
    except OSError:
        pass
    return total / 1024, inside / 1024


def descendants(root: int) -> dict[int, str]:
    """pid -> command name of every live descendant of ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append((int(entry), st[1]))
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, comm in children.get(todo.pop(), ()):
            out[pid] = comm
            todo.append(pid)
    return out


def snapshot(root: int, java_heap: tuple[int, int, int] | None = None) -> dict[str, float]:
    """Summed memory of the tree rooted at ``root``, split by kind. With
    ``java_heap`` = (JVM pid, heap start, heap end), also the part of that
    JVM's memory that is its Java heap (``java_heap_mb``)."""
    tree = descendants(root)
    mb = {pid: _pss_mb(pid) for pid in (root, *tree)}
    out = {}
    if java_heap is not None and java_heap[0] in mb:
        mb[java_heap[0]], out["java_heap_mb"] = _pss_split_mb(*java_heap)
    py = [p for p, c in tree.items() if c.startswith("python")]
    return {
        "total_mb": sum(mb.values()),
        "main_mb": mb[root],
        "jvm_mb": sum(mb.get(p, 0.0) for p, c in tree.items() if c == "java"),
        "python_mb": sum(mb.get(p, 0.0) for p in py),
        "n_python": float(len(py)),
        **out,
    }


PERIOD_S = 0.25


class Sampler:
    """Samples this process's tree every ``PERIOD_S`` seconds and keeps the
    peak of each ``snapshot`` figure, and, once ``java_heap`` is set, of
    ``outside_heap_mb``: the tree's memory less the JVM's Java heap."""

    def __init__(self):
        self.root = os.getpid()
        self.peak: dict[str, float] = {}
        #: (JVM pid, heap start, heap end), set once the JVM is up
        self.java_heap: tuple[int, int, int] | None = None
        #: the sampler thread's id, set before ``__enter__`` returns
        self.tid: int | None = None
        self._started = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="procs-sampler", daemon=True)

    def _run(self) -> None:
        self.tid = threading.get_native_id()
        self._started.set()
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(PERIOD_S)

    def sample(self) -> None:
        snap = snapshot(self.root, self.java_heap)
        if "java_heap_mb" in snap:
            snap["outside_heap_mb"] = snap["total_mb"] - snap["java_heap_mb"]
        for k, v in snap.items():
            if v > self.peak.get(k, 0.0):
                self.peak[k] = v

    def __enter__(self) -> "Sampler":
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


#: SIGTERM grace before SIGKILL; multiprocessing's resource tracker
#: ignores SIGTERM and would otherwise outlive its parent
GRACE_S = 1.0


def reap() -> list[int]:
    """Terminate every remaining descendant of this process and wait until
    each has ended, with SIGKILL after ``GRACE_S``. Returns the pids still
    alive after that, which is empty unless a process ignored SIGKILL."""
    left = list(descendants(os.getpid()))
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + GRACE_S
        while time.monotonic() < deadline:
            for pid in list(left):
                try:
                    if os.waitpid(pid, os.WNOHANG)[0] == pid:
                        left.remove(pid)
                        continue
                except ChildProcessError:  # not our child: poll /proc instead
                    pass
                if _stat(pid) is None:
                    left.remove(pid)
            if not left:
                return []
            time.sleep(0.05)
    return left
