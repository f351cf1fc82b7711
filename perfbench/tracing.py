"""Spans and Spark counters for the traced benchmark run.

The untraced run uses `NullTracer`, whose hooks do nothing, so the
end-to-end numbers carry no tracing cost. The traced run uses `Tracer`:

* `span(name)` records name, start, end, parent span and the measured
  operation it belongs to. Spans stay in memory; `layer_metrics` folds
  them into the per-layer numbers when the run ends.
* `op(kind)` opens the root span of one measured operation and tags the
  calling thread with its own Spark job group. Right after the operation
  it reads the status store for that group's jobs and stages only
  (`statusStore().lastStageAttempt`), never global totals, so jobs that
  the status tracker has already evicted cannot skew the numbers.
* `install()` wraps the program's layer entry points (model registration,
  the model memo, the parquet sink, the CLI pipeline) from outside the
  package; `uninstall()` restores them.

Time the tracer spends on its own bookkeeping (status-store reads,
directory scans) is recorded per operation as the tracing overhead.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import inspect
import itertools
import os
import statistics
import threading
import time

MB = 1e6


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "attrs")

    def __init__(self, name, start, parent, op, attrs):
        self.name, self.start, self.end = name, start, start
        self.parent, self.op, self.attrs = parent, op, attrs

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: every hook is a no-op."""

    def span(self, name, **attrs):
        return contextlib.nullcontext()

    def op(self, kind, warmup=False):
        return contextlib.nullcontext()

    def section(self, name):
        return contextlib.nullcontext()

    def force_plan(self, df) -> None:
        pass

    def count_commits(self, span, checkpoint: str) -> None:
        pass

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


def _scan(root: str) -> dict[str, tuple[int, int]]:
    """relative path -> (mtime_ns, size) for the data files under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_mtime_ns, st.st_size)
    return out


def _partition_date(rel: str, key: str) -> dt.date | None:
    for part in rel.split(os.sep):
        if part.startswith(key + "="):
            try:
                return dt.date.fromisoformat(part.split("=", 1)[1][:10])
            except ValueError:
                return None
    return None


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self.register_calls = 0

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(name, time.perf_counter(), parent,
                 parent.op if parent is not None else None, attrs)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def _overhead(self, seconds: float) -> None:
        stack = self._stack()
        if stack and stack[0].op is not None:
            stack[0].op.attrs["trace_s"] += seconds

    @contextlib.contextmanager
    def op(self, kind, warmup=False):
        with self._counted("op", kind=kind, warmup=warmup, trace_s=0.0) as s:
            yield s

    @contextlib.contextmanager
    def section(self, name):
        """A part of the current operation whose Spark counters are read
        separately (and not counted in the operation's own)."""
        with self._counted(name) as s:
            yield s

    @contextlib.contextmanager
    def _counted(self, name, **attrs):
        group = f"perfbench-{next(self._ids)}"
        outer = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(group, name)
        try:
            with self.span(name, **attrs) as s:
                if s.op is None:
                    s.op = s
                yield s
        finally:
            if outer:
                self._sc.setJobGroup(outer, outer)
        t = time.perf_counter()
        s.attrs.update(self._stage_counters(group))
        s.op.attrs["trace_s"] += time.perf_counter() - t

    def _stage_counters(self, group: str) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        c = dict(jobs=len(jobs), job_s=0.0, run_ms=0, input_b=0, shuffle_b=0, spill_b=0)
        stages: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                c["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted or never submitted
                continue
            c["run_ms"] += sd.executorRunTime()
            c["input_b"] += sd.inputBytes()
            c["shuffle_b"] += sd.shuffleWriteBytes()
            c["spill_b"] += sd.diskBytesSpilled()
        return c

    # -- hooks called by the workloads --------------------------------------
    def force_plan(self, df) -> None:
        """Run analysis, optimization and physical planning now; the
        action that follows reuses the same QueryExecution."""
        with self.span("plans.optimize"):
            df._jdf.queryExecution().executedPlan()

    def count_commits(self, span, checkpoint: str) -> None:
        t = time.perf_counter()
        commits = os.path.join(checkpoint, "commits")
        span.attrs["batches"] = (
            sum(1 for f in os.listdir(commits) if f.isdigit()) if os.path.isdir(commits) else 0
        )
        self._overhead(time.perf_counter() - t)

    # -- layer entry-point wrapping -----------------------------------------
    def _patch(self, module, name, wrapper_factory) -> None:
        orig = getattr(module, name)
        self._patches.append((module, name, orig))
        setattr(module, name, wrapper_factory(orig))

    def uninstall(self) -> None:
        for module, name, orig in reversed(self._patches):
            setattr(module, name, orig)
        self._patches.clear()

    def install(self) -> None:
        from etl_gamma_spark import cli, registry
        from etl_gamma_spark.sources import sink

        def register(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                self.register_calls += 1
                with self.span("model.register"):
                    return orig(*a, **k)
            return wrapper

        def ensure(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                before = self.register_calls
                with self.span("model.ensure") as s:
                    orig(*a, **k)
                s.attrs["hit"] = self.register_calls == before
            return wrapper

        def pipeline(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                with self.span("cli.pipeline") as s:
                    out = orig(*a, **k)
                with self._lock:
                    ends = [w.end for w in self.spans if w.parent is s and w.name == "sink.write"]
                s.attrs["readback_s"] = s.end - max(ends) if ends else 0.0
                return out
            return wrapper

        self._patch(registry, "register_model_views", register)
        self._patch(registry, "_ensure_model", ensure)
        self._patch(cli, "_ensure_model", lambda _orig: registry._ensure_model)
        self._patch(cli, "run_pipeline", pipeline)
        for name in ("write_full_refresh", "write_partition_overwrite", "overwrite_date_range"):
            self._patch(sink, name, self._sink_wrapper)
        for name in ("write_full_refresh", "write_partition_overwrite"):
            self._patch(cli, name, lambda _orig, n=name: getattr(sink, n))

    def _sink_wrapper(self, orig):
        sig = inspect.signature(orig)
        scoped = orig.__name__ != "write_full_refresh"

        @functools.wraps(orig)
        def wrapper(*a, **k):
            stack = self._stack()
            if stack and stack[-1].name == "sink.write":  # nested sink call
                return orig(*a, **k)
            args = sig.bind(*a, **k).arguments
            path = args["path"]
            t = time.perf_counter()
            before = _scan(path)
            self._overhead(time.perf_counter() - t)
            with self.span("sink.write", fn=orig.__name__, scoped=scoped) as s:
                orig(*a, **k)
            t = time.perf_counter()
            after = _scan(path)
            changed = {p: v for p, v in after.items() if before.get(p) != v}
            s.attrs["files"] = len(changed)
            s.attrs["bytes"] = sum(v[1] for v in changed.values())
            if "start" in args:  # date-range scope: partitions inside [start, end]
                lo = args["start"].replace(day=1)
                s.attrs["scope_bytes"] = sum(
                    v[1] for p, v in after.items()
                    if (d := _partition_date(p, "mes")) is not None and lo <= d <= args["end"]
                )
            else:  # partition scope: the partitions the write replaced
                dirs = {os.path.dirname(p) for p in changed}
                s.attrs["scope_bytes"] = sum(
                    v[1] for p, v in after.items() if os.path.dirname(p) in dirs
                )
            self._overhead(time.perf_counter() - t)

        return wrapper


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def layer_metrics(tr: Tracer, cores: int, loop_wall: float) -> dict[str, float]:
    """Fold the spans of the measured operations into per-layer numbers.

    Time and size metrics are per operation (the workload's unit: a
    refresh cycle or a request), as the median over the measured
    operations. Spark counters of the corpus steps come from their own
    section; the plans.* counters are the rest of the operation.
    """
    ops = [s for s in tr.spans if s.name == "op" and not s.attrs["warmup"]]
    op_ids = {id(o) for o in ops}
    by_op: dict[int, list[Span]] = {id(o): [] for o in ops}
    for s in tr.spans:
        owner = s.op
        if owner is None:  # callback-thread span: find the op whose window holds it
            owner = next((o for o in ops if o.start <= s.start and s.end <= o.end), None)
        if owner is not None and id(owner) in op_ids and s is not owner:
            by_op[id(owner)].append(s)

    def per_op(name, value=lambda s: s.dur):
        return _median(sum(value(s) for s in spans if s.name == name) for spans in by_op.values())

    def calls(name):
        return [s for spans in by_op.values() for s in spans if s.name == name]

    def busy(spans, wall):
        return sum(s.attrs["run_ms"] for s in spans) / 1e3 / (wall * cores) if wall > 0 else 0.0

    chains = calls("operators.chain")
    ensures = calls("model.ensure")
    scoped = [s for s in calls("sink.write") if s.attrs["scoped"]]
    scope_b = sum(s.attrs["scope_bytes"] for s in scoped)
    m = {
        "model.memo_hit_ratio": (sum(s.attrs["hit"] for s in ensures) / len(ensures)) if ensures else 0.0,
        "plans.build_ms": _median(s.dur * 1e3 for s in calls("plans.build")),
        "plans.optimize_ms": _median(s.dur * 1e3 for s in calls("plans.optimize")),
        "plans.jobs": _median(o.attrs["jobs"] for o in ops),
        "plans.exec_s": _median(o.attrs["job_s"] for o in ops),
        "io.input_mb": _median(o.attrs["input_b"] / MB for o in ops),
        "plans.core_busy_ratio": busy(ops, loop_wall - sum(c.dur for c in chains)),
        "operators.responsibility_ms": _median(s.dur * 1e3 for s in calls("operators.responsibility")),
        "sink.write_s": per_op("sink.write"),
        "sink.files_written": per_op("sink.write", lambda s: s.attrs["files"]),
        "sink.output_mb": per_op("sink.write", lambda s: s.attrs["bytes"] / MB),
        "sink.write_amplification": (sum(s.attrs["bytes"] for s in scoped) / scope_b) if scope_b else 0.0,
        "cli.readback_s": per_op("cli.pipeline", lambda s: s.attrs["readback_s"]),
        "streaming.apply_s": per_op("streaming.apply"),
        "streaming.batches": per_op("streaming.apply", lambda s: s.attrs.get("batches", 0)),
        "operators.shuffle_mb": _median(c.attrs["shuffle_b"] / MB for c in chains),
        "operators.spill_mb": _median(c.attrs["spill_b"] / MB for c in chains),
        "operators.core_busy_ratio": busy(chains, sum(c.dur for c in chains)),
        "trace.self_ms": _median(o.attrs["trace_s"] * 1e3 for o in ops),
    }
    for fam in ("dedup", "similarity", "quality", "retrieval"):
        m[f"operators.{fam}_s"] = per_op(f"operators.{fam}")
    return m
