"""Statistics, the process-tree memory probe, the environment stamp and
the result line shared by every workload."""

from __future__ import annotations

import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# percentiles tried for the tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile of TAIL_LADDER with at least
    TAIL_MIN_BEYOND samples above it (nearest-rank), as
    (percentile, value, samples beyond); None when even the median has
    fewer than TAIL_MIN_BEYOND samples beyond it."""
    ordered = sorted(values)
    n = len(ordered)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p * n / 100.0 - 1e-9))  # nearest rank, robust to float error
        if n - rank >= TAIL_MIN_BEYOND:
            return p, ordered[rank - 1], n - rank
    return None


# ---------------------------------------------------------- memory --


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces and parentheses: split after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants: the
    driver, the JVM it launched and the JVM's Python workers."""
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the process tree over an interval: every
    process's high-water mark is reset at ``start`` (``clear_refs`` 5)
    and the marks are summed at ``stop``. Processes that exit in
    between are not counted; a process started in between counts from
    its start. No sampling thread is needed."""

    def start(self) -> None:
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # exited, or not ours to reset: its mark then covers more

    def stop_mb(self) -> float:
        self.by_command: dict[str, float] = {}
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            self.by_command[comm] = self.by_command.get(comm, 0.0) + _status_kb(pid, "VmHWM:") / 1024.0
        return sum(self.by_command.values())


# ------------------------------------------------------------ stamp --


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def stamp(spark, **extra) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "nproc": cpu_count(),
        "mem_total_kb": mem_total_kb(),
        "spark": spark.version,
        **extra,
    }


# ----------------------------------------------------------- output --


def load_metric_specs() -> dict:
    """BENCHMARK.json at the repository root: the metrics' names, units
    and bounds (``metrics.json`` here only annotates them)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, specs: list[dict]) -> str:
    """The final stdout line. ``metrics`` maps every name in ``specs``
    to a measured number; units come from the specs."""
    missing = [s["name"] for s in specs if s["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                s["name"]: {"value": float(metrics[s["name"]]), "unit": s["unit"]}
                for s in specs
            },
        }
    )
