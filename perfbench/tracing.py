"""In-memory spans, an exact py4j command counter, and /proc readers.

Everything here observes the program from outside: spans wrap calls into
its public functions, the counter wraps the py4j client that PySpark uses,
and process figures come from /proc.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time


class Tracer:
    """Spans kept in memory and written once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self.t0 = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(
            {
                "id": sid,
                "parent": parent,
                "name": name,
                "start_s": round(start - self.t0, 6),
                "end_s": round(end - self.t0, 6),
                **attrs,
            }
        )
        return sid

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


class Py4JCounter:
    """Counts py4j commands sent from the calling thread.

    Memory commands (``m``: the Python GC releasing Java objects) are left
    out: they arrive whenever the collector runs, so counting them would
    make the figure vary between identical runs. Commands from other
    threads (the streaming listener's callbacks) are left out too.
    """

    def __init__(self) -> None:
        self.count = 0
        self._thread = threading.get_ident()
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                if threading.get_ident() == self._thread and not command.startswith("m\n"):
                    self.count += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command
            self._patched.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched.clear()


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice.
    return fields[7], sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def proc_cpu_s(pid: int) -> float:
    """utime + stime of one process, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
