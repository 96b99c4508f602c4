"""Pure helpers of the benchmark: statistics, the output checksum, the
Spark event-log reader, the process-tree RSS sampler and the span tracer.

Nothing here starts Spark; the tests import this module directly.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

TAIL_BEYOND = 10  # a tail percentile needs this many samples above it


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it, as ``(percentile, value)``; ``None`` when the sample is too
    small to have one (``len(values) <= TAIL_BEYOND``).

    With ``n`` sorted samples the value at 0-based rank ``n - 11`` has
    exactly ten samples above it, and ``100 * (n - 10) / n`` percent of
    the sample at or below it."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(values)
    return 100.0 * (n - TAIL_BEYOND) / n, ordered[n - TAIL_BEYOND - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# output checksum
# ---------------------------------------------------------------------------

TABLE_COLUMNS = ("doc_id", "tokens", "n_tok", "source")


def checksum(df) -> tuple[int, int]:
    """Order-independent checksum of a tokens table: the row count and the
    sum of ``xxhash64`` over all columns, tokens included. The sum runs in
    DECIMAL(38,0) so it cannot overflow (Spark's ANSI mode raises on a
    LONG overflow)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*TABLE_COLUMNS).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


# ---------------------------------------------------------------------------
# disk and memory
# ---------------------------------------------------------------------------


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path``. Hidden files and Spark's
    ``_SUCCESS`` markers are left out: the local filesystem's ``.crc``
    side files are not part of the store."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    """Proportional resident bytes of ``root`` and every process below
    it. PSS splits each shared page among the processes that map it, so
    the forked Python workers' shared pages count once."""
    kids = children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class PssSampler:
    """Samples the PSS of this process tree (driver, JVM, Python workers)
    on a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class StageStats:
    tasks: list[float] = field(default_factory=list)  # executor run time, s
    wall: float = 0.0  # submission to completion, s


@dataclass
class GroupStats:
    """Everything the event log says about the jobs of one job group."""

    stages: dict[int, StageStats] = field(default_factory=dict)
    shuffle_read: int = 0
    shuffle_write: int = 0
    py_sent: int = 0
    py_recv: int = 0

    @property
    def tasks(self) -> int:
        return sum(len(s.tasks) for s in self.stages.values())

    def main_stage(self) -> StageStats | None:
        """The stage with the most task time: the one that sets the wall."""
        if not self.stages:
            return None
        return max(self.stages.values(), key=lambda s: sum(s.tasks))


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group (``SparkContext.setJobGroup``), the task run times,
    stage walls, shuffle bytes and Arrow bytes to and from the Python
    workers. Jobs outside any group are skipped."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp is not None:
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = grp
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"])
                if grp is None:
                    continue
                g = groups[grp]
                stage = g.stages.setdefault(ev["Stage ID"], StageStats())
                m = ev.get("Task Metrics") or {}
                stage.tasks.append(m.get("Executor Run Time", 0) / 1000.0)
                rd = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read += rd.get("Remote Bytes Read", 0)
                g.shuffle_read += rd.get("Local Bytes Read", 0)
                wr = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write += wr.get("Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Name") == _PY_SENT:
                        g.py_sent += int(acc.get("Update", 0))
                    elif acc.get("Name") == _PY_RECV:
                        g.py_recv += int(acc.get("Update", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                grp = stage_group.get(info["Stage ID"])
                if grp is None or "Completion Time" not in info:
                    continue
                stage = groups[grp].stages.setdefault(info["Stage ID"], StageStats())
                stage.wall = (info["Completion Time"] - info["Submission Time"]) / 1000.0
    return dict(groups)


def engine_metrics(groups: list[GroupStats], cores: int) -> dict[str, float]:
    """The ``engine.*`` event-log metrics, averaged per operation over the
    given job groups (one group per timed operation)."""
    groups = [g for g in groups if g.stages]
    if not groups:
        return {k: 0.0 for k in ("tasks", "task_skew", "slot_util",
                                 "shuffle_write_mb", "shuffle_read_mb",
                                 "python_sent_mb", "python_recv_mb")}
    n = len(groups)
    skews = []
    for g in groups:
        main = g.main_stage()
        if main is not None and len(main.tasks) > 1 and statistics.median(main.tasks) > 0:
            skews.append(max(main.tasks) / statistics.median(main.tasks))
    run = sum(sum(s.tasks) for g in groups for s in g.stages.values())
    wall = sum(s.wall for g in groups for s in g.stages.values())
    mb = 1e6
    return {
        "tasks": sum(g.tasks for g in groups) / n,
        "task_skew": median(skews) if skews else 1.0,
        "slot_util": run / (wall * cores) if wall else 0.0,
        "shuffle_write_mb": sum(g.shuffle_write for g in groups) / n / mb,
        "shuffle_read_mb": sum(g.shuffle_read for g in groups) / n / mb,
        "python_sent_mb": sum(g.py_sent for g in groups) / n / mb,
        "python_recv_mb": sum(g.py_recv for g in groups) / n / mb,
    }


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory spans around calls into the layers' public functions.

    ``span`` records one interval; ``patch`` swaps a module-level function
    for a wrapper that records a span around each call, in every
    ``pysparkenc`` module that holds a reference to it, and ``restore``
    puts the originals back. Spans of one operation share the ``op`` id
    set by ``operation``."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._ops = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def operation(self):
        self._op = next(self._ops)
        try:
            yield self._op
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self._op, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, on_return=None):
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_return is not None:
                    on_return(sp, args, kwargs, out)
                return out

        traced.__wrapped__ = fn
        return traced

    def patch(self, module, attr: str, name: str, on_return=None) -> None:
        import sys

        orig = getattr(module, attr)
        wrapper = self.wrap(name, orig, on_return)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.split(".")[0] != "pysparkenc" or mod is None:
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
                self._patched.append((mod, attr, orig))

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    # -- aggregation ------------------------------------------------------

    def self_times(self, ops_only: bool = False) -> dict[str, float]:
        """Per layer (the span-name prefix), the sum of each span's
        duration minus the time its child spans cover. ``ops_only`` keeps
        the spans recorded inside an ``operation``."""
        child_time = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out: dict[str, float] = defaultdict(float)
        for i, sp in enumerate(self.spans):
            if ops_only and sp.op is None:
                continue
            out[sp.layer] += (sp.end - sp.start) - child_time[i]
        return dict(out)

    def total(self, name: str, ops_only: bool = False) -> tuple[float, int]:
        """Summed duration and count of the spans called ``name``, counting
        only the outermost of nested spans of the same name."""
        s, n = 0.0, 0
        for sp in self.spans:
            if sp.name != name or (ops_only and sp.op is None):
                continue
            if sp.parent is not None and self._has_ancestor(sp.parent, name):
                continue
            s += sp.end - sp.start
            n += 1
        return s, n

    def _has_ancestor(self, idx: int | None, name: str) -> bool:
        while idx is not None:
            if self.spans[idx].name == name:
                return True
            idx = self.spans[idx].parent
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "op": sp.op, **sp.attrs,
                }) + "\n")
