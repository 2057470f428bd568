"""Layer probes that observe the engine from outside.

Nothing here edits the package. Tracing wraps public callables of each
layer at run time (and only in a traced run); Spark execution is read
from the application status store, which works with the UI off; stream
progress comes from a ``StreamingQueryListener``; persisted state is
measured by walking the scratch roots the loaded modules define.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import threading
import time
from dataclasses import dataclass

# Layer name -> (module, attribute path) of the public callables a span
# is put around.  The wrapped name is the span name.
SPAN_TARGETS: dict[str, tuple[str, str]] = {
    "server.route": ("data_wrangler_spark.server", "GatewayServer.route"),
    "server.deliver": ("data_wrangler_spark.server", "_rows_json"),
    "templates.run": ("data_wrangler_spark.plans.templates", "SQLTemplates.run"),
    "engine.run": ("data_wrangler_spark.engine", "Engine.run"),
    "engine.list_records": ("data_wrangler_spark.engine", "Engine.list_records"),
    "engine.get_record": ("data_wrangler_spark.engine", "Engine.get_record"),
    "engine.sub_records": ("data_wrangler_spark.engine", "Engine.sub_records"),
    "engine.release": ("data_wrangler_spark.engine", "Engine.release_cache"),
    "registry.build": ("data_wrangler_spark.registry", "QuerySpec.run"),
    "catalog.load": ("data_wrangler_spark.catalog", "load_table"),
}

# Roots of persisted state as the operator modules define them.
SCRATCH_ROOT_ATTRS: tuple[tuple[str, str], ...] = (
    ("data_wrangler_spark.streaming.windows", "SCRATCH"),
    ("data_wrangler_spark.operators.io_formats", "_IO_SCRATCH"),
    ("data_wrangler_spark.operators.pipeline_ops", "_CONTAM_INC_SCRATCH"),
    ("data_wrangler_spark.operators.pipeline_ops", "_PIPE_INC_SCRATCH"),
    ("data_wrangler_spark.operators.dedup", "_INC_SCRATCH"),
    ("data_wrangler_spark.operators.dedup", "_EMB_INC_SCRATCH"),
    ("data_wrangler_spark.operators.dedup", "_EMB_2DAY_SCRATCH"),
    ("data_wrangler_spark.operators.quality_ts", "_ROLLUP_SCRATCH"),
    ("data_wrangler_spark.operators.quality_ts", "_COMPACT_SCRATCH"),
    ("data_wrangler_spark.operators.quality_ts", "_ROLLUP_INC_SCRATCH"),
    ("data_wrangler_spark.operators.multimodal", "_PHASH_INC_SCRATCH"),
    ("data_wrangler_spark.operators.similarity", "_IVF_SCRATCH"),
)


@dataclass(frozen=True)
class Span:
    sid: int
    name: str
    op: int  # sid of the root span of the operation
    parent: int | None
    t0: float
    t1: float


class Tracer:
    """In-memory span recorder.

    Each span also tags the Spark jobs its thread launches
    (``SparkContext.addJobTag``), so jobs are attributed to the
    innermost span that was open when they started. ``active`` turns
    recording on and off without unwrapping, which lets one run
    alternate traced and untraced blocks."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.released = 0  # frames Engine.release_cache reported in traced ops
        self.active = False
        self._tls = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._id_lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _next_id(self) -> int:
        with self._id_lock:
            return next(self._ids)

    def call(self, name: str, fn, *args, **kwargs):
        stack = self._tls.__dict__.setdefault("stack", [])
        if not self.active and not stack:
            return fn(*args, **kwargs)
        sid = self._next_id()
        parent = stack[-1] if stack else None
        tag = f"gwb{sid}"
        self.sc.addJobTag(tag)
        stack.append((sid, parent[1] if parent else sid))
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            if name == "engine.release":
                self.released += result
            return result
        finally:
            t1 = time.perf_counter()
            _, op = stack.pop()
            self.sc.removeJobTag(tag)
            self.spans.append(Span(sid, name, op, parent[0] if parent else None, t0, t1))

    def install(self) -> None:
        """Wrap every SPAN_TARGETS callable, including the copies of
        ``load_table`` other modules imported by name."""
        for name, (mod_name, path) in SPAN_TARGETS.items():
            owner = importlib.import_module(mod_name)
            *cls_path, attr = path.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            orig = getattr(owner, attr)
            wrapped = self._wrap(name, orig)
            owners = [owner]
            if not cls_path:
                owners += [
                    m
                    for k, m in list(sys.modules.items())
                    if k.startswith("data_wrangler_spark") and m is not owner
                    and getattr(m, attr, None) is orig
                ]
            for o in owners:
                self._undo.append((o, attr, orig))
                setattr(o, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.call(name, fn, *args, **kwargs)

        return wrapper


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s.t0
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.t0):
            lo, hi = max(c.t0, end), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.sid] = (s.t1 - s.t0) - covered
    return out


def check_spans(spans: list[Span], tol: float) -> list[str]:
    """Per operation: every span lies inside its parent, and the self
    times of its spans sum to the root's wall time within ``tol``
    (relative). Returns one message per violation."""
    by_id = {s.sid: s for s in spans}
    selfs = self_times(spans)
    errors, sums = [], {}
    for s in spans:
        if s.parent is not None:
            p = by_id.get(s.parent)
            if p is None or s.t0 < p.t0 - 1e-6 or s.t1 > p.t1 + 1e-6:
                errors.append(f"span {s.name}#{s.sid} escapes its parent")
        sums[s.op] = sums.get(s.op, 0.0) + selfs[s.sid]
    for op, total in sums.items():
        root = by_id.get(op)
        if root is None:
            errors.append(f"operation {op} has no root span")
            continue
        wall = root.t1 - root.t0
        if abs(total - wall) > tol * wall + 1e-6:
            errors.append(f"operation {op}: self times {total:.6f}s != wall {wall:.6f}s")
    return errors


def _jobs(sc) -> list:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(jobs))


def _stages(sc) -> list:
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.Collections.emptyList()
    )
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages))


def span_jobs(sc) -> dict[int, list[int]]:
    """Innermost span id -> ids of the Spark jobs it launched, from
    the ``gwb<sid>`` job tags."""
    out: dict[int, list[int]] = {}
    for j in _jobs(sc):
        tags = [t for t in j.jobTags().mkString(",").split(",") if t.startswith("gwb")]
        if tags:
            out.setdefault(max(int(t[3:]) for t in tags), []).append(j.jobId())
    return out


class SparkStats:
    """Execution totals over a window, read from the status store."""

    FIELDS = (
        ("tasks", "numCompleteTasks", 1),
        ("task_s", "executorRunTime", 1e-3),
        ("gc_s", "jvmGcTime", 1e-3),
        ("shuffle_read_bytes", "shuffleReadBytes", 1),
        ("shuffle_write_bytes", "shuffleWriteBytes", 1),
        ("mem_spill_bytes", "memoryBytesSpilled", 1),
        ("disk_spill_bytes", "diskBytesSpilled", 1),
        ("input_bytes", "inputBytes", 1),
        ("output_bytes", "outputBytes", 1),
    )

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def mark(self) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(None)
        stages = [s.stageId() for s in _stages(self.sc)]
        return max(jobs, default=-1), max(stages, default=-1)

    def between(self, mark: tuple[int, int], until: tuple[int, int]) -> dict[str, float]:
        """Totals over the jobs and stages started after ``mark`` and
        up to ``until`` (both from ``mark()``)."""
        (job0, stage0), (job1, stage1) = mark, until
        out = {k: 0.0 for k, _, _ in self.FIELDS}
        out["jobs"] = float(
            sum(1 for j in self.tracker.getJobIdsForGroup(None) if job0 < j <= job1)
        )
        out["stages"] = 0.0
        for s in _stages(self.sc):
            if not stage0 < s.stageId() <= stage1:
                continue
            out["stages"] += 1
            for key, getter, scale in self.FIELDS:
                out[key] += getattr(s, getter)() * scale
        out["spill_bytes"] = out.pop("mem_spill_bytes") + out.pop("disk_spill_bytes")
        return out


class StreamProbe:
    """Collects micro-batch progress of every streaming query."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self
        self.batches: list[dict] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
                pass

            def onQueryProgress(self, event):  # noqa: N802
                probe.batches.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.spark = spark
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def scratch_roots() -> list[str]:
    """Distinct top-level scratch roots of the loaded modules."""
    roots = set()
    for mod_name, attr in SCRATCH_ROOT_ATTRS:
        mod = sys.modules.get(mod_name)
        if mod is not None and hasattr(mod, attr):
            roots.add(os.path.normpath(getattr(mod, attr)))
    # a root nested in another is covered by its parent
    return sorted(r for r in roots if not any(r.startswith(o + os.sep) for o in roots))


def tree(path: str) -> dict[str, int]:
    """Every file and directory under ``path`` -> size in bytes (0 for
    directories)."""
    out: dict[str, int] = {}
    for dirpath, dirnames, filenames in os.walk(path):
        for d in dirnames:
            out[os.path.join(dirpath, d)] = 0
        for f in filenames:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.lstat(p).st_size
            except FileNotFoundError:
                pass
    return out


class ScratchState:
    """Snapshot of the scratch roots, to measure and then remove
    exactly what a run created."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        # for a missing root, its topmost missing ancestor: everything
        # the run creates under it is ours to remove
        self.anchors = {self._first_missing(r) for r in roots if not os.path.exists(r)}
        self.before = {p for r in roots for p in tree(r)}

    @staticmethod
    def _first_missing(path: str) -> str:
        while not os.path.exists(os.path.dirname(path)):
            path = os.path.dirname(path)
        return path

    def created(self) -> dict[str, int]:
        return {
            p: n for r in self.roots for p, n in tree(r).items() if p not in self.before
        }

    def cleanup(self) -> None:
        import shutil

        new = self.created()
        for p in sorted(new, key=len, reverse=True):
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.lexists(p):
                os.unlink(p)
        for anchor in self.anchors:
            shutil.rmtree(anchor, ignore_errors=True)


def rss_peak_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024
