"""Measurement helpers: process-tree RSS sampling, call tracing around
``semantics`` functions, Spark event-log parsing and noop-sink timing.

Everything here wraps calls into the package from the outside; no
package source is modified.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# host state
# ---------------------------------------------------------------------------

def host_snapshot() -> dict:
    """Load average and cumulative CPU/steal jiffies, to tell a polluted
    run apart afterwards."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": list(os.getloadavg()), "cpu_total": sum(cpu),
            "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


def steal_frac(a: dict, b: dict) -> float:
    total = b["cpu_total"] - a["cpu_total"]
    return (b["cpu_steal"] - a["cpu_steal"]) / total if total > 0 else 0.0


# ---------------------------------------------------------------------------
# resident memory of this process and every descendant (JVM, Python workers)
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                text = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may itself hold spaces
        fields = text[text.rindex(")") + 2:].split()
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's summed RSS on a background thread and
    keeps the peak."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# call tracing (calls, self time, distinct first arguments)
# ---------------------------------------------------------------------------

class CallTracer:
    """Wraps module functions; a wrapper's self time is its wall time
    minus the time of traced calls made inside it.  ``keys`` maps a
    function name to the function that turns its first argument into
    the identity of the work (default: the argument itself)."""

    def __init__(self, keys: dict | None = None) -> None:
        self.keys = keys or {}
        self.calls: Counter = Counter()
        self.self_s: dict[str, float] = defaultdict(float)
        self.distinct: dict[str, set] = defaultdict(set)
        self._child_s: list[float] = []

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            self._child_s.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = self._child_s.pop()
                if self._child_s:
                    self._child_s[-1] += dt
                self.calls[name] += 1
                self.self_s[name] += dt - child
                if args and isinstance(args[0], str):
                    self.distinct[name].add(
                        self.keys.get(name, str)(args[0]))
        return traced

    @contextlib.contextmanager
    def patched(self, module, names):
        saved = {n: getattr(module, n) for n in names}
        try:
            for n, fn in saved.items():
                setattr(module, n, self._wrap(n, fn))
            yield self
        finally:
            for n, fn in saved.items():
                setattr(module, n, fn)

    def ratio(self, name: str) -> float:
        """Calls per distinct first argument (1.0 = no repeated work)."""
        d = len(self.distinct[name])
        return self.calls[name] / d if d else 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Plain, single-file event log (Spark 4 compresses and rolls by
    default)."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def read_event_log(log_dir: str, group_prefix: str) -> dict[str, dict]:
    """Per job group starting with ``group_prefix``: job count, task
    durations, shuffle bytes written, bytes spilled and task GC time."""
    groups: dict[str, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        if path.endswith(".crc") or os.path.isdir(path):
            continue
        stage_group: dict[int, str] = {}  # stage ids restart in each app
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not g or not g.startswith(group_prefix):
                        continue
                    rec = groups.setdefault(g, {"jobs": 0, "tasks": [],
                                                "shuffle": 0, "spill": 0,
                                                "gc_s": 0.0})
                    rec["jobs"] += 1
                    for s in ev["Stage IDs"]:
                        stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    rec = groups[g]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rec["tasks"].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1000)
                    rec["shuffle"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                    rec["spill"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000
    return groups


def spark_layer_metrics(groups: dict[str, dict]) -> dict[str, float]:
    """Medians over traced iterations (one job group each)."""
    recs = list(groups.values())
    if not recs:
        return {k: 0.0 for k in ("spark.jobs", "spark.task_p50_s",
                                 "spark.task_max_s", "spark.shuffle_bytes",
                                 "spark.spill_bytes", "spark.gc_s")}
    tasks = [t for r in recs for t in r["tasks"]]
    med = statistics.median
    return {
        "spark.jobs": med(r["jobs"] for r in recs),
        "spark.task_p50_s": med(tasks) if tasks else 0.0,
        "spark.task_max_s": med(max(r["tasks"], default=0.0) for r in recs),
        "spark.shuffle_bytes": med(r["shuffle"] for r in recs),
        "spark.spill_bytes": med(r["spill"] for r in recs),
        "spark.gc_s": med(r["gc_s"] for r in recs),
    }


# ---------------------------------------------------------------------------
# noop-sink timing
# ---------------------------------------------------------------------------

def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_once(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def timed_median(fn, runs: int = 3) -> float:
    """One untimed warm call, then the median of ``runs`` timed calls."""
    fn()
    return statistics.median(timed_once(fn) for _ in range(runs))


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(total bytes, data files) under ``path``; checksums and markers
    count as bytes but not as files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files
