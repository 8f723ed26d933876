"""Process-tree helpers over ``/proc`` (psutil is not available).

``RssSampler`` runs one thread that walks driver -> JVM -> Python daemon
-> workers every 100 ms and keeps, per Python process under
the JVM, the highest ``VmHWM`` it has seen, so workers that exit mid-job
still count.
"""

from __future__ import annotations

import os
import threading
import time


def _stat(pid: int) -> tuple[str, int] | None:
    """(comm, ppid) of ``pid``, or None if it is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            s = f.read().decode("latin-1")
    except OSError:
        return None
    lp, rp = s.index("("), s.rindex(")")
    state, ppid = s[rp + 2:].split()[:2]
    return None if state == "Z" else (s[lp + 1:rp], int(ppid))


def descendants(root: int) -> dict[int, str]:
    """pid -> comm of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            comm[int(name)] = st[0]
            children.setdefault(st[1], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = comm[c]
            todo.append(c)
    return out


def python_workers(root: int) -> list[int]:
    """Python processes below the JVM started by ``root`` (the PySpark
    daemon and the workers it forks)."""
    procs = descendants(root)
    jvms = [p for p, c in procs.items() if c == "java"]
    out = []
    for j in jvms:
        out += [p for p, c in descendants(j).items() if c.startswith("python")]
    return out


def vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    INTERVAL = 0.1  # seconds; workers are reused, so they live for the run

    def __init__(self):
        self.peak_kib: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def _loop(self) -> None:
        while not self._stop.is_set():
            for pid in python_workers(os.getpid()):
                hwm = vm_hwm_kib(pid)
                if hwm > self.peak_kib.get(pid, 0):
                    self.peak_kib[pid] = hwm
            self._stop.wait(self.INTERVAL)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mib(self) -> float:
        return max(self.peak_kib.values(), default=0) / 1024.0

    @property
    def workers_seen(self) -> int:
        return len(self.peak_kib)


def wait_for_children(timeout: float = 60.0) -> None:
    """Wait until every process this one started has ended; kill what is
    left after ``timeout``."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while descendants(me):
        if time.monotonic() > deadline:
            for pid in descendants(me):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            time.sleep(0.5)
            break
        time.sleep(0.1)
    try:  # reap any zombie children
        while os.waitpid(-1, os.WNOHANG) != (0, 0):
            pass
    except ChildProcessError:
        pass
