"""Process-tree accounting read from ``/proc``, outside the program.

A benchmark run is one session: ``run.py`` starts the workload driver as
a session leader, and the Spark JVM it launches, the PySpark daemon and
the Python workers the daemon forks all stay in that session. Process
groups do not work here: the daemon calls ``setpgid(0, 0)``, so it and
its workers sit in a group of their own.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process ended between listdir and open
        return None
    # the command name (field 2) may contain spaces; split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _session_stats(sid: int):
    """Yield (pid, stat fields from field 3 on) for every live process in
    session ``sid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat_fields(pid)
        # f[0] is field 3 (state), f[3] is field 6 (session)
        if f is not None and int(f[3]) == sid and f[0] != "Z":
            yield pid, f


def session_pids(sid: int) -> list[int]:
    """The live processes of the session."""
    return [int(pid) for pid, _ in _session_stats(sid)]


class SessionCpu:
    """CPU seconds used by the processes of one session.

    Each process's own user + system time is read while it lives, and its
    last reading is kept after it has gone. The children's times a parent
    collects (cutime/cstime) are not used: the PySpark daemon ignores
    SIGCHLD, so the kernel drops its workers' times rather than adding
    them to the daemon's. A background thread reads every ``interval``
    seconds, so CPU that a process uses after its last reading, at most
    ``interval`` seconds of it, is all that is missed.
    """

    def __init__(self, sid: int, interval: float = 0.2):
        self.sid = sid
        self.interval = interval
        self.ticks: dict[tuple[str, str], int] = {}  # (pid, start time) -> ticks
        self.lock = threading.Lock()
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self.stop.wait(self.interval):
            self.read()

    def start(self) -> "SessionCpu":
        self.read()
        self.thread.start()
        return self

    def close(self) -> None:
        self.stop.set()
        self.thread.join()

    def read(self) -> float:
        """Read every live process now; return the session's CPU seconds
        so far."""
        # fields 14-15: utime, stime; field 22: start time
        now = {(pid, f[19]): int(f[11]) + int(f[12]) for pid, f in _session_stats(self.sid)}
        with self.lock:
            self.ticks.update(now)
            return sum(self.ticks.values()) / _TICKS


def _pss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended
        pass
    return 0


def session_rss_bytes(sid: int) -> int:
    """Resident memory of the session's live processes, as summed PSS:
    pages shared between processes (Python workers forked from one
    daemon share most of theirs) are split between them instead of
    being counted once per process."""
    return sum(_pss_kb(pid) for pid, _ in _session_stats(sid)) * 1024


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")
