"""Span recorder for the traced run, installed from outside the package.

Each public entry point named in ``ENTRY_POINTS`` is replaced, at the module
where callers look it up, by a wrapper that records a span (name, start,
end, parent span, operation id) and tags the Spark jobs launched inside it
with a job group of its own.  After the loop, ``statusTracker()`` resolves
each group's jobs, stages and tasks, which gives exact Spark counters per
layer without touching the package's code.

Names imported with ``from x import f`` are bound in the importing module,
so ``engine.referenced_tables`` and ``static_catalog.prune_manifest`` are
patched there rather than (only) at their defining modules.
"""

from __future__ import annotations

import functools
import importlib
import time
from dataclasses import dataclass, field

# span name -> (module, attribute path) patched for it
ENTRY_POINTS = {
    "models.parse": ("buzz_rust_spark.models", "BuzzQuery.from_json"),
    "plans.referenced_tables": ("buzz_rust_spark.engine", "referenced_tables"),
    "manifest.prune": ("buzz_rust_spark.sources.static_catalog", "prune_manifest"),
    "static_catalog.to_dataframe": ("buzz_rust_spark.sources.static_catalog", "StaticCatalog.to_dataframe"),
    "static_catalog.frame": ("buzz_rust_spark.sources.static_catalog", "StaticCatalog._frame_for"),
    "zonemap.prune": ("buzz_rust_spark.sources.zonemap", "prune_catalog_by_stats"),
    "engine.plan": ("buzz_rust_spark.engine", "BuzzEngine.run"),
    "engine.zoned_plan": ("buzz_rust_spark.engine", "BuzzEngine._run_zoned"),
    "engine.execute": ("buzz_rust_spark.engine", "BuzzEngine.execute"),
    "delta_catalog.snapshot": ("buzz_rust_spark.engine", "DeltaCatalog"),
    "delta_writer.commit": ("buzz_rust_spark.sources.delta_writer", "write_delta"),
}


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{id(self)}"


class Recorder:
    """Keeps spans in memory; ``spans`` is written out once the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.ops: list = []  # traced operations; a span's ``op`` indexes this
        self._stack: list[int] = []
        self.op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------

    def open(self, name: str, **info) -> int:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, self.op, parent, time.perf_counter(), info=info)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        self.sc.setLocalProperty("spark.jobGroup.id", span.group)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty(
            "spark.jobGroup.id", self.spans[parent].group if parent is not None else None
        )

    def wrap(self, name: str, fn):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if rec.op is None:
                return fn(*args, **kwargs)
            idx = rec.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                rec.close(idx)
            rec.spans[idx].info["args"] = args
            rec.spans[idx].info["result"] = out
            return out

        return traced

    # -- installation ---------------------------------------------------------

    def install(self) -> None:
        for name, (module, attr) in ENTRY_POINTS.items():
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = owner.__dict__[leaf]
            if isinstance(original, classmethod):
                patched = classmethod(self.wrap(name, original.__func__))
            else:
                patched = self.wrap(name, original)
            setattr(owner, leaf, patched)
            self._patched.append((owner, leaf, original))

    def uninstall(self) -> None:
        for owner, leaf, original in reversed(self._patched):
            setattr(owner, leaf, original)
        self._patched.clear()

    # -- Spark counters -------------------------------------------------------

    def resolve_spark_counters(self) -> None:
        """Attach ``jobs``/``stages``/``tasks``/``failed_tasks`` to every span,
        counting only the jobs launched directly inside it (not in children).
        Waits for the listener bus first so every finished job is visible."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # the bus is internal API; fall back to a pause
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        for span in self.spans:
            jobs = stages = tasks = failed = 0
            for job_id in tracker.getJobIdsForGroup(span.group):
                jobs += 1
                job = tracker.getJobInfo(job_id)
                for stage_id in job.stageIds if job else ():
                    st = tracker.getStageInfo(stage_id)
                    if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            span.info.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    # -- aggregation ----------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, span in enumerate(self.spans):
            if span.parent is not None:
                out.setdefault(span.parent, []).append(i)
        return out

    def self_time(self, idx: int, kids: dict[int, list[int]]) -> float:
        span = self.spans[idx]
        covered = sum(self.spans[k].end - self.spans[k].start for k in kids.get(idx, ()))
        return max(span.end - span.start - covered, 0.0)

    def subtree(self, idx: int, kids: dict[int, list[int]]):
        yield idx
        for k in kids.get(idx, ()):
            yield from self.subtree(k, kids)

    def dump(self) -> list[dict]:
        """JSON-ready spans (arguments and results dropped)."""
        return [
            {
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                **{k: v for k, v in s.info.items() if k not in ("args", "result")},
            }
            for s in self.spans
        ]
