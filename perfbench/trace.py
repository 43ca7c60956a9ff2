"""Traced-run instrumentation, kept entirely outside the program.

Three sources, all read from the benchmark's side of the API:

- **Spans** around calls into the program's public functions. ``wrap``
  replaces each public function of a module with a timing wrapper, so
  calls made through the module attribute (and through names that other
  modules import afterwards) record a span: name, layer, start, end,
  parent span and request id. Spans stay in memory; ``self_times``
  subtracts the part of each span that its child spans cover.
- **Spark's status store**, read per request through py4j: each request
  runs under its own ``setJobGroup``; afterwards the jobs of that group
  and their last stage attempts are read from
  ``sc._jsc.sc().statusStore()`` (works with the UI disabled).
- **Final-plan features**, counted by ``tools/plan_audit.py`` itself:
  ``plan_features`` runs that tool's ``main`` over the request kinds and
  parses the table it writes, so the counts come from its logic
  unchanged.

Nothing here is active in an untraced run: ``Tracer(enabled=False)``
records nothing and wraps nothing.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """In-memory span recorder with a per-thread span stack."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- request context -------------------------------------------------
    def set_request(self, request: str | None) -> None:
        self._local.request = request

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, layer, t0, t1, parent,
                                       getattr(self._local, "request", None)))

    # -- wrapping public functions ---------------------------------------
    def wrap(self, module, layer: str) -> int:
        """Wrap every public function defined in ``module``; return how
        many were wrapped."""
        if not self.enabled:
            return 0
        n = 0
        short = module.__name__.rsplit(".", 1)[-1]
        for attr, fn in list(vars(module).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != module.__name__):
                continue
            setattr(module, attr, self._wrapped(fn, f"{short}.{attr}", layer))
            n += 1
        return n

    def wrap_method(self, cls, attr: str, layer: str) -> None:
        if self.enabled:
            fn = getattr(cls, attr)
            setattr(cls, attr, self._wrapped(fn, f"{cls.__name__}.{attr}",
                                             layer))

    def _wrapped(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)
        return wrapper

    def wrap_package(self, package: str, layer: str) -> int:
        """Import and wrap every submodule of ``package``."""
        pkg = importlib.import_module(package)
        n = 0
        for info in pkgutil.iter_modules(pkg.__path__):
            n += self.wrap(importlib.import_module(f"{package}.{info.name}"),
                           layer)
        return n

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered = union_length([(c.start, c.end) for c in children[s.sid]])
            out[s.sid] = max(s.end - s.start - covered, 0.0)
        return out

    def by_layer(self, layer: str, requests: set | None = None,
                 inclusive: bool = False) -> dict[str, tuple[int, float]]:
        """Span name → (calls, total time s) for one layer, over the spans
        of ``requests`` (all spans when None): self time, or the spans'
        whole durations with ``inclusive``."""
        selft = self.self_times()
        agg: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if s.layer == layer and (requests is None
                                     or s.request in requests):
                agg[s.name][0] += 1
                agg[s.name][1] += (s.end - s.start if inclusive
                                   else selft[s.sid])
        return {k: (v[0], v[1]) for k, v in agg.items()}

    def count(self, requests: set) -> int:
        return sum(1 for s in self.spans if s.request in requests)

    def dump(self, path: str) -> None:
        """Write every span as one tab-separated line."""
        selft = self.self_times()
        with open(path, "w") as f:
            f.write("sid\tparent\trequest\tlayer\tname\tstart\tend\tself_s\n")
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(f"{s.sid}\t{s.parent or ''}\t{s.request or ''}\t"
                        f"{s.layer}\t{s.name}\t{s.start:.6f}\t{s.end:.6f}\t"
                        f"{selft[s.sid]:.6f}\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark status store ------------------------------------------------------

@dataclass
class JobStats:
    job_id: int
    start_ms: int
    end_ms: int
    stages: int
    tasks: int
    tasks_failed: int
    task_s: float
    input_rows: int
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


class SparkStatus:
    """Reads per-job counters for one job group from the JVM status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._lock = threading.Lock()
        self.inline_s: dict[str, float] = {}   # group → status-read time

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def eager_jobs(self, group: str) -> int:
        """Jobs ``group`` has run so far; called between building and
        executing a request, so its cost is recorded in ``inline_s``."""
        t0 = time.perf_counter()
        n = len(self.jobs(group))
        with self._lock:
            self.inline_s[group] = time.perf_counter() - t0
        return n

    def jobs(self, group: str) -> list[JobStats]:
        """Every job of ``group``, after the listener bus has delivered
        their end events."""
        self._bus.waitUntilEmpty(10_000)
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty():
                continue
            start = sub.get().getTime()
            end = done.get().getTime() if not done.isEmpty() else start
            st = dict(stages=0, tasks=0, tasks_failed=0, task_s=0.0,
                      input_rows=0, input_bytes=0, shuffle_read_bytes=0,
                      shuffle_write_bytes=0, spill_bytes=0)
            ids = jd.stageIds()
            for i in range(ids.size()):
                try:
                    sd = self._store.lastStageAttempt(ids.apply(i))
                except Exception:  # noqa: BLE001 — stage skipped, never ran
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                st["stages"] += 1
                st["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                st["tasks_failed"] += sd.numFailedTasks()
                st["task_s"] += sd.executorRunTime() / 1000.0
                st["input_rows"] += sd.inputRecords()
                st["input_bytes"] += sd.inputBytes()
                st["shuffle_read_bytes"] += sd.shuffleReadBytes()
                st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                st["spill_bytes"] += (sd.memoryBytesSpilled()
                                      + sd.diskBytesSpilled())
            out.append(JobStats(jid, start, end, **st))
        return out


# --- final-plan features via tools/plan_audit.py ---------------------------

PLAN_COLUMNS = ("exchanges", "broadcast_joins", "sort_merge_joins",
                "codegen_stages")


class _Captured:
    """DataFrame stand-in handed to plan_audit: its ``collect`` runs the
    request through ``execute`` (which times it and keeps the output) and
    every other attribute is the real DataFrame's."""

    def __init__(self, df, execute):
        self._df = df
        self._execute = execute

    def collect(self):
        return self._execute(self._df)

    def __getattr__(self, name):
        return getattr(self._df, name)


@dataclass
class _AuditSpec:
    fn: object


def plan_features(root: str, spark, requests: dict, out_md: str) -> dict:
    """Run ``tools/plan_audit.main`` over ``requests`` (name →
    ``(build, execute)``: ``build(spark)`` returns the DataFrame,
    ``execute(df)`` runs it) and return name → plan-feature counts,
    with ``"error"`` set where the tool recorded one."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import plan_audit
    finally:
        sys.path.pop(0)

    def spec(build, execute):
        return _AuditSpec(lambda sp, _d: _Captured(build(sp), execute))

    specs = {n: spec(b, e) for n, (b, e) in requests.items()}
    saved = (plan_audit.load_all, plan_audit.get_spark, sys.argv)
    plan_audit.load_all = lambda: specs
    plan_audit.get_spark = lambda *_a, **_k: spark
    sys.argv = ["plan_audit.py", "-", out_md, "--all"]
    try:
        plan_audit.main()
    finally:
        plan_audit.load_all, plan_audit.get_spark, sys.argv = saved
    return parse_plan_table(out_md)


def parse_plan_table(path: str) -> dict:
    rows = {}
    with open(path) as f:
        for line in f:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) != 7 or cells[0] in ("query", "---"):
                continue
            name = cells[0]
            if cells[1].startswith("ERROR"):
                rows[name] = {"error": cells[1]}
                continue
            rec = {k: int(v) for k, v in zip(PLAN_COLUMNS, cells[1:5])}
            rec["python_nodes"] = int(cells[6] == "yes")
            rows[name] = rec
    return rows
