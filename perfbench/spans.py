"""Span recorder for the benchmark's traced run.

A span wraps one call into a layer's public function.  It has a name,
a start and end (``time.perf_counter``), a parent and the run id, and
it carries the py4j round trips made while it was the innermost span.
Spans that run Spark work set a job group named after themselves, so
every job is attributed to the innermost span that started it; after
the run, :meth:`Recorder.collect_status` reads job/stage/task counts
per group from ``statusTracker`` and :func:`parse_event_log` reads
executor run time, shuffle, spill and GC per group from Spark's event
log.

Nothing here touches the library's source: :class:`LayerTaps` swaps
module attributes for wrappers while a traced operation runs and puts
the originals back afterwards.  Each wrapper forces the layer's output
(``persist`` + ``count``) inside its span, so the layer's time is its
own and not that of whichever later action happens to run the plan.
Spans are held in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str | None = None
    py4j: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullRecorder:
    """The untraced run's recorder: spans cost nothing and record nothing."""

    def span(self, name, **attrs):
        return contextlib.nullcontext()


class Recorder:
    """In-memory span recorder for one traced operation."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._paused = 0
        self._py4j_patch = None

    # -- py4j round-trip counter ---------------------------------------
    def install_py4j_counter(self) -> None:
        """Count every py4j command sent while a span is open."""
        from py4j import clientserver, java_gateway

        targets = [
            (clientserver.ClientServerConnection, "send_command"),
            (java_gateway.GatewayConnection, "send_command"),
        ]
        saved = []
        for cls, attr in targets:
            orig = getattr(cls, attr)

            def counting(conn, command, _orig=orig):
                if self._stack and not self._paused:
                    self._stack[-1].py4j += 1
                return _orig(conn, command)

            setattr(cls, attr, counting)
            saved.append((cls, attr, orig))
        self._py4j_patch = saved

    def uninstall_py4j_counter(self) -> None:
        for cls, attr, orig in self._py4j_patch or ():
            setattr(cls, attr, orig)
        self._py4j_patch = None

    @contextlib.contextmanager
    def paused(self):
        """py4j calls made by the recorder itself are not counted."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # -- spans -----------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        with self.paused():
            if group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(group, group, False)

    @contextlib.contextmanager
    def span(self, name: str, *, spark_group: bool = True, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name,
            parent=None if parent is None else parent.id,
            run_id=self.run_id, start=0.0, attrs=dict(attrs),
        )
        self.spans.append(sp)
        if spark_group:
            sp.group = f"{self.run_id}:{sp.id}:{name}"
            self._set_group(sp.group)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if spark_group:
                # back to the enclosing span's group: jobs always land
                # on the innermost open span
                outer = next(
                    (s.group for s in reversed(self._stack) if s.group), None
                )
                self._set_group(outer)

    # -- after the run -----------------------------------------------------
    def collect_status(self, spans) -> None:
        """Job/stage/task counts per span from ``statusTracker``."""
        st = self.sc.statusTracker()
        with self.paused():
            for sp in spans:
                if sp.group is None:
                    continue
                jobs = stages = tasks = 0
                for jid in st.getJobIdsForGroup(sp.group):
                    info = st.getJobInfo(jid)
                    if info is None:
                        continue
                    jobs += 1
                    for sid in info.stageIds:
                        stages += 1
                        sinfo = st.getStageInfo(sid)
                        if sinfo is not None:
                            tasks += sinfo.numTasks
                sp.attrs.update(jobs=jobs, stages=stages, tasks=tasks)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        ids = {root.id}
        out = [root]
        for sp in self.spans[root.id + 1:]:
            if sp.parent in ids:
                ids.add(sp.id)
                out.append(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": s.id, "name": s.name, "parent": s.parent,
                        "run_id": s.run_id, "start": s.start, "end": s.end,
                        "group": s.group, "py4j": s.py4j, "attrs": s.attrs,
                    }
                    for s in self.spans
                ],
                fh, indent=1, default=str,
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its children cover.  Spans nest on
    one driver thread, so children never overlap each other."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent in child:
            child[s.parent] += s.duration
    return {s.id: s.duration - child[s.id] for s in spans}


def build_self_time(sp: Span, spans: list[Span]) -> float:
    """Self time of the part of ``sp`` before its output was forced
    (``attrs["build_end"]``): the layer call returning its lazy plan."""
    end = sp.attrs.get("build_end")
    if end is None:
        return 0.0
    inner = sum(
        c.duration for c in spans if c.parent == sp.id and c.end <= end
    )
    return end - sp.start - inner


# -- layer taps ------------------------------------------------------------


def force(df):
    """Materialize ``df`` into the cache; returns (cached df, row count)."""
    df = df.persist()
    return df, df.count()


class LayerTaps:
    """Wrappers around the layers' public entry points, installed only
    around traced operations.  Every forced DataFrame is remembered and
    unpersisted by :meth:`uninstall`."""

    def __init__(self, rec: Recorder):
        self.rec = rec
        self._saved: list[tuple[object, str, object]] = []
        self._cached = []
        self._fs_depth = 0

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _force(self, df):
        df, n = force(df)
        self._cached.append(df)
        return df, n

    def install(self) -> None:
        import xyzpy_spark.farming as farming
        import xyzpy_spark.fsutil as fsutil
        import xyzpy_spark.grid as grid
        import xyzpy_spark.missing as missing
        import xyzpy_spark.operators.reductions as reductions

        rec = self.rec

        def grid_tap(orig):
            def combo_grid(*a, **kw):
                with rec.span("grid") as sp:
                    df = orig(*a, **kw)
                    sp.attrs["build_end"] = time.perf_counter()
                    df, sp.attrs["points"] = self._force(df)
                return df
            return combo_grid

        # a top-up builds its requested grid through the grid module
        self._patch(grid, "combo_grid", grid_tap)

        def runner_tap(orig):
            def run_grid_df(self_, grid_df, *a, **kw):
                with rec.span("runner") as sp:
                    df = orig(self_, grid_df, *a, **kw)
                    sp.attrs["build_end"] = time.perf_counter()
                    df, sp.attrs["rows_out"] = self._force(df)
                    with rec.span("trace.measure"):
                        sp.attrs["points"] = grid_df.count()
                return df
            return run_grid_df

        self._patch(farming.Runner, "run_grid_df", runner_tap)

        def missing_tap(orig):
            def _missing_filter(self_, cases_df, *a, **kw):
                with rec.span("missing") as sp:
                    df, todo = self._force(orig(self_, cases_df, *a, **kw))
                    with rec.span("trace.measure"):
                        requested = cases_df.count()
                    sp.attrs.update(
                        points_requested=requested, points_todo=todo
                    )
                return df
            return _missing_filter

        self._patch(farming.Harvester, "_missing_filter", missing_tap)

        def merge_tap(orig):
            def merge_datasets(old, new, *a, **kw):
                with rec.span("merge") as sp:
                    df, sp.attrs["rows_out"] = self._force(
                        orig(old, new, *a, **kw)
                    )
                    with rec.span("trace.measure"):
                        sp.attrs["rows_in"] = old.count() + new.count()
                return df
            return merge_datasets

        self._patch(farming, "merge_datasets", merge_tap)

        def plain_tap(name):
            def make(orig):
                def call(*a, **kw):
                    with rec.span(name):
                        return orig(*a, **kw)
                return call
            return make

        self._patch(
            farming.Harvester, "_load_store", plain_tap("farming.load")
        )
        self._patch(farming, "_publish_parquet", plain_tap("farming.publish"))

        def reduction_tap(name):
            def make(orig):
                def call(*a, **kw):
                    with rec.span(f"reductions.{name}"):
                        df, _ = self._force(orig(*a, **kw))
                    return df
                return call
            return make

        for fn in ("aggregate_over", "histogram", "heatmap_table"):
            self._patch(reductions, fn, reduction_tap(fn))
        self._patch(
            missing, "find_missing_cases", reduction_tap("find_missing_cases")
        )

        def fs_tap(orig):
            # outermost call only: read_text goes through read_bytes
            def call(*a, **kw):
                if self._fs_depth:
                    return orig(*a, **kw)
                self._fs_depth += 1
                try:
                    with rec.span("fsutil", spark_group=False):
                        return orig(*a, **kw)
                finally:
                    self._fs_depth -= 1
            return call

        for fn in (
            "exists", "is_dir", "listdir", "glob_paths", "mkdirs",
            "create_new", "delete", "rename", "replace", "read_bytes",
            "write_bytes", "read_text", "read_text_or_none", "write_text",
            "content_size",
        ):
            self._patch(fsutil, fn, fs_tap)

    def uninstall(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


# -- Spark event log ---------------------------------------------------------


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: executor run time, shuffle read/write bytes,
    spill bytes and GC time summed over the tasks of its jobs."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    if group:
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out.setdefault(group, {
                        "executor_run_s": 0.0, "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "gc_s": 0.0,
                    })
                    rd = m.get("Shuffle Read Metrics", {})
                    acc["executor_run_s"] += m["Executor Run Time"] / 1e3
                    acc["shuffle_read_bytes"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                    )
                    acc["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)
                    )
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return out
