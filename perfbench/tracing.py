"""Spans, Spark status-store counters and process-tree memory for the benchmark.

Everything here observes the engine from outside: spans are recorded around
the benchmark's own calls into the engine's public functions, counters are
read from Spark's status store after each call, and memory is sampled from
``/proc``. No engine code is changed or patched.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class SparkStats:
    """Reads finished SQL executions from Spark's status stores (works with the
    UI off). Executions are numbered in order, so the executions of one action
    are those numbered above the high-water mark taken before it."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._sc = spark._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()

    def _drain(self) -> None:
        # the stores are fed by the asynchronous listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._drain()
        ids = [e.executionId() for e in self._conv.asJava(self._sql.executionsList())]
        return max(ids, default=-1)

    def since(self, mark: int) -> dict:
        """Counters of every execution after ``mark``: shuffle bytes written,
        output rows of each join whose keys include ``tile``, and the task
        durations (ms) of the longest-running stage."""
        self._drain()
        conv = self._conv
        shuffle_bytes = 0
        tile_join_rows = 0
        longest: tuple[int, list[int]] = (-1, [])
        for e in conv.asJava(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= mark:
                continue
            values = conv.asJava(self._sql.executionMetrics(eid))
            for node in conv.asJava(self._sql.planGraph(eid).allNodes()):
                if not node.name().endswith("Join") or "tile#" not in node.desc():
                    continue
                for m in conv.asJava(node.metrics()):
                    if m.name() == "number of output rows":
                        tile_join_rows += int(str(values.get(m.accumulatorId()) or "0").replace(",", ""))
            for job_id in conv.asJava(e.jobs()).keySet():
                for stage_id in conv.asJava(self._app.job(job_id).stageIds()):
                    try:
                        stage = self._app.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # stage skipped: no attempt recorded
                        continue
                    shuffle_bytes += stage.shuffleWriteBytes()
                    if stage.executorRunTime() > longest[0]:
                        tasks = conv.asJava(self._app.taskList(stage_id, stage.attemptId(), 1 << 20))
                        longest = (
                            stage.executorRunTime(),
                            [t.duration().get() for t in tasks if t.duration().isDefined()],
                        )
        return {
            "shuffle_bytes": shuffle_bytes,
            "tile_join_rows": tile_join_rows,
            "task_ms": longest[1],
        }


def task_skew(task_ms: list[int]) -> float:
    """max / median task time of one stage (1.0 for a single task)."""
    if not task_ms:
        return 1.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 1.0


def force(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.mode("overwrite").format("noop").save()


def frames(values) -> list:
    """The DataFrames among ``values``: a decoded OSM bundle counts as its
    kind-tagged union (or its three frames), tuples and lists are searched."""
    out = []
    for v in values:
        if isinstance(v, DataFrame):
            out.append(v)
        elif hasattr(v, "relations") and hasattr(v, "union"):
            out.extend([v.union] if v.union is not None else [v.nodes, v.ways, v.relations])
        elif isinstance(v, (tuple, list)):
            out.extend(frames(v))
    return out


class Tracer:
    """Records spans (name, start, end, parent) in memory.

    ``layer`` wraps one public engine function: it forces the call's DataFrame
    inputs alone, makes the call, then forces its output. Spark is lazy, so the
    layer's self time is (call + forcing the output) minus forcing the inputs.
    Counters read from the status store are attached to the span: shuffle
    bytes as output minus inputs, tile-join rows and task skew of the output."""

    def __init__(self, stats: SparkStats | None):
        self.stats = stats
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            start=time.perf_counter() - self._t0,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter() - self._t0

    def _timed_force(self, dfs) -> tuple[float, dict]:
        mark = self.stats.mark()
        t = time.perf_counter()
        for df in dfs:
            force(df)
        return time.perf_counter() - t, self.stats.since(mark)

    def layer(self, fn):
        """``fn`` wrapped in a span named ``<module>.<function>``. The inputs
        forced are the DataFrames among its arguments; the outputs, those
        among its result."""
        name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"

        def traced(*args, **kwargs):
            with self.span(name) as s:
                in_s, in_c = self._timed_force(frames([*args, *kwargs.values()]))
                mark = self.stats.mark()
                t = time.perf_counter()
                result = fn(*args, **kwargs)
                for df in frames([result]):
                    force(df)
                out_s = time.perf_counter() - t
                out_c = self.stats.since(mark)
                s.attrs.update(
                    in_s=in_s,
                    out_s=out_s,
                    self_s=max(out_s - in_s, 0.0),
                    shuffle_bytes=max(out_c["shuffle_bytes"] - in_c["shuffle_bytes"], 0),
                    tile_join_rows=out_c["tile_join_rows"],
                    task_skew=task_skew(out_c["task_ms"]),
                )
            return result

        return traced

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def _tree(root: int) -> dict[int, tuple[str, int, int]]:
    """pid -> (name, VmRSS kB, VmHWM kB) for ``root`` and all its descendants
    (driver Python, the JVM it launched and the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                text = f.read()
        except OSError:  # process ended while listing
            continue
        fields = dict(line.split(":", 1) for line in text.splitlines() if ":" in line)
        pid = int(entry)
        children.setdefault(int(fields.get("PPid", "0")), []).append(pid)
        procs[pid] = (
            fields.get("Name", "").strip(),
            int(fields.get("VmRSS", "0 kB").split()[0]),
            int(fields.get("VmHWM", "0 kB").split()[0]),
        )
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            tree[pid] = procs[pid]
        todo.extend(children.get(pid, []))
    return tree


class RssSampler:
    """Memory of this process tree, sampled every ``period`` s: the peak of
    the summed VmRSS, and each process's own peak (VmHWM), which the kernel
    keeps exactly, so short peaks between samples are not missed."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        tree = _tree(os.getpid())
        self.peak_kb = max(self.peak_kb, sum(rss for _, rss, _ in tree.values()))
        for pid, (name, _, hwm) in tree.items():
            self.hwm[pid] = (name, max(hwm, self.hwm.get(pid, ("", 0))[1]))

    def hwm_kb(self) -> int:
        """Sum of the per-process peaks: an upper bound of the tree's peak."""
        return sum(kb for _, kb in self.hwm.values())

    def by_name(self) -> dict[str, list[int]]:
        """process name -> [processes, summed peak MB]."""
        out: dict[str, list[int]] = {}
        for name, kb in self.hwm.values():
            n, mb = out.get(name, [0, 0])
            out[name] = [n + 1, mb + kb // 1024]
        return out

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
