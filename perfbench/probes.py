"""Measurement helpers that need no Spark session: medians with their
sample counts, the Spark REST metric-string parser, the ``/proc`` RSS
reader and sampler, the ``/proc`` CPU-time and steal readers, and the
metric-name rules of BENCHMARK.json."""

from __future__ import annotations

import os
import re
import statistics
import threading

#: A metric name: starts with a letter or digit; at most 64 letters,
#: digits, ``_``, ``.`` and ``-``.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
#: A unit: at most 16 letters, digits, ``_``, ``/``, ``%``, ``.`` and ``-``.
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def median_with_count(samples: list[float]) -> tuple[float, int]:
    """The median and the number of samples it was taken over.

    With a few dozen ops per run no higher percentile has ten samples
    beyond it, so the median is the only percentile reported."""
    if not samples:
        raise ValueError("no samples")
    return statistics.median(samples), len(samples)


# --- Spark REST metric strings ------------------------------------------

_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
               "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40, "PiB": 2**50}
_VALUE_RE = re.compile(r"\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> tuple[float, str]:
    """Parse a SQL metric value as the REST API renders it.

    Returns ``(value, kind)`` in base units: kind ``"s"`` for durations
    (seconds), ``"B"`` for sizes (bytes) and ``""`` for plain counts.
    Aggregated task metrics render as
    ``"total (min, med, max (stageId: taskId))\\n17.5 s (4.2 s, ...)"``;
    the total is the value taken."""
    text = text.strip()
    if text.startswith("total"):
        lines = text.split("\n", 1)
        if len(lines) < 2:
            raise ValueError(f"aggregated metric without values: {text!r}")
        text = lines[1]
    m = _VALUE_RE.match(text)
    if m is None:
        raise ValueError(f"not a metric value: {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit], "s"
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit], "B"
    if unit == "":
        return number, ""
    raise ValueError(f"unknown unit {unit!r} in {text!r}")


# --- /proc RSS ------------------------------------------------------------

def rss_bytes(pid: int, proc: str = "/proc") -> int:
    """Resident set size of one process from ``/proc/<pid>/status``;
    0 when the process has gone (or is a kernel thread)."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _stat_fields(proc: str, pid: int | str) -> tuple[str, list[str]]:
    """Command name and the fields after it of ``/proc/<pid>/stat``."""
    with open(f"{proc}/{pid}/stat") as f:
        stat = f.read()
    # comm is parenthesised and may hold spaces; fields follow the
    # last ')': state, ppid, ...
    close = stat.rfind(")")
    return stat[stat.find("(") + 1:close], stat[close + 2:].split()


def _parent_map(proc: str) -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every process visible in proc."""
    out = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            comm, fields = _stat_fields(proc, entry)
        except (FileNotFoundError, ProcessLookupError):
            continue
        out[int(entry)] = (int(fields[1]), comm)
    return out


def _descendants(root: int, proc: str) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in _parent_map(proc).items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_rss(root: int, proc: str = "/proc") -> dict[str, int]:
    """Summed RSS in bytes of ``root`` and its descendants: ``jvm`` for
    java processes, ``python`` for Python ones (the driver interpreter,
    the PySpark daemon and its workers).

    Other processes are helpers the JVM spawns (Hadoop's shell calls).
    Between fork and exec such a child shares the JVM's memory and carries
    the name of the JVM thread that spawned it, so its RSS would count the
    JVM twice; after exec it is a few MB.  Neither is counted."""
    parents = _parent_map(proc)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in parents.items():
        children.setdefault(ppid, []).append(pid)
    out = {"jvm": 0, "python": 0}
    stack = [root]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        ppid, comm = parents.get(pid, (0, ""))
        if comm == "java" and parents.get(ppid, (0, ""))[1] != "java":
            out["jvm"] += rss_bytes(pid, proc)
        elif comm.startswith("python"):
            out["python"] += rss_bytes(pid, proc)
    return out


def peak_rss_self_bytes(proc: str = "/proc") -> int:
    """This process's peak resident set size (``VmHWM``)."""
    with open(f"{proc}/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


# --- /proc CPU time -------------------------------------------------------

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds (user + system, all threads) that ``root`` and its
    descendants have used, including exited children they have reaped.

    A worker the PySpark daemon reaps moves into the daemon's children
    time, so the sum only grows while the tree's processes live.  Time the
    hypervisor stole from the guest is not charged to any process, so this
    does not grow with steal the way wall time does."""
    total = 0
    for pid in _descendants(root, proc):
        try:
            _comm, f = _stat_fields(proc, pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat; f starts
        # at field 3
        total += sum(int(x) for x in f[11:15])
    return total * _TICK_S


def steal_s(proc: str = "/proc") -> float:
    """CPU seconds the hypervisor has stolen from this guest since boot,
    summed over its CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open(f"{proc}/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) * _TICK_S if len(cpu) > 8 else 0.0


class RssSampler:
    """Polls :func:`tree_rss` of one process tree on a thread and keeps
    the peaks of the total and of each part."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        parts = tree_rss(self.root)
        parts["total"] = parts["jvm"] + parts["python"]
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)
        self.samples += 1

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
