#!/usr/bin/env python3
"""Sweep-lifecycle benchmark for xyzpy_spark.

    python3 perfbench/run.py --workload sweep_topup --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  One closed-loop client in one driver
process on ``local[<cores>]``: each operation starts after the
previous one ended and its output was checked.  ``--trace 0`` measures
the end-to-end metrics with tracing off; ``--trace 1`` interleaves
untraced operations with traced ones and reports the per-layer
metrics of the median traced operation (see perfbench/README.md).
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PREPARE_REPS = 3
LAYERS = ("grid", "runner", "missing", "merge", "farming", "reductions",
          "pipeline")
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "gc_s")
UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
         "executor_run_s": "s", "shuffle_read_bytes": "bytes",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
         "gc_s": "s"}


# -- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    children, out, todo = _children(), [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _statm(pid: int) -> tuple[int, int] | None:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            size, resident = fh.read().split()[:2]
    except OSError:
        return None
    return int(size), int(resident)


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and its descendants.  A child whose
    memory map is still its parent's (forked or vforked, not yet
    exec'd: the JVM spawns helpers this way) is not counted twice."""
    children = _children()
    total, todo = 0, [(pid, _statm(pid))]
    while todo:
        p, mem = todo.pop()
        if mem is None:
            continue
        total += mem[1]
        for c in children.get(p, ()):
            cmem = _statm(c)
            todo.append((c, None if cmem == mem else cmem))
    return total * os.sysconf("SC_PAGE_SIZE")


class PeakRSS(threading.Thread):
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# -- session --------------------------------------------------------------


def start_session(work: str, event_log: str | None):
    from xyzpy_spark import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            # a fixed heap: no heap-growth phase in the timed loop
            "-Xms2g",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + event_log,
            "spark.eventLog.compress": "false",
        })
    cores = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            break
        time.sleep(0.1)


# -- metrics --------------------------------------------------------------


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def layer_metrics(rec, root, spark_stats: dict, untraced_wall: float,
                  traced_wall: float) -> dict:
    """Per-layer metrics of one traced operation (span subtree ``root``)."""
    from perfbench.spans import build_self_time, self_times
    from perfbench.corpus import QUERIES

    spans = rec.subtree(root)
    st = self_times(spans)

    def self_sum(name):
        return sum(st[s.id] for s in spans if s.name == name)

    def attr_sum(name, key):
        return sum(s.attrs.get(key, 0) for s in spans if s.name == name)

    m = {}
    for lay in ("grid", "runner"):
        build = sum(build_self_time(s, spans) for s in spans if s.name == lay)
        m[f"{lay}.build_s"] = metric(build, "s")
        m[f"{lay}.exec_s"] = metric(self_sum(lay) - build, "s")
        m[f"{lay}.points"] = metric(attr_sum(lay, "points"), "count")
    m["runner.rows_out"] = metric(attr_sum("runner", "rows_out"), "count")
    req = attr_sum("missing", "points_requested")
    todo = attr_sum("missing", "points_todo")
    m["missing.exec_s"] = metric(self_sum("missing"), "s")
    m["missing.points_requested"] = metric(req, "count")
    m["missing.points_todo"] = metric(todo, "count")
    m["missing.todo_frac"] = metric(todo / req if req else 0.0, "ratio")
    m["merge.exec_s"] = metric(self_sum("merge"), "s")
    m["merge.rows_in"] = metric(attr_sum("merge", "rows_in"), "count")
    m["merge.rows_out"] = metric(attr_sum("merge", "rows_out"), "count")
    m["farming.load_s"] = metric(self_sum("farming.load"), "s")
    m["farming.publish_s"] = metric(self_sum("farming.publish"), "s")
    m["farming.bytes_written"] = metric(root.attrs.get("bytes_written", 0),
                                        "bytes")
    m["farming.files_written"] = metric(root.attrs.get("files_written", 0),
                                        "count")
    fs = [s for s in spans if s.name == "fsutil"]
    m["fsutil.calls"] = metric(len(fs), "count")
    m["fsutil.s"] = metric(sum(st[s.id] for s in fs), "s")
    m["fsutil.py4j.calls"] = metric(sum(s.py4j for s in fs), "count")
    for fn in ("aggregate_over", "histogram", "heatmap_table",
               "find_missing_cases"):
        m[f"reductions.{fn}_s"] = metric(self_sum(f"reductions.{fn}"), "s")
    for q in QUERIES:
        b = f"pipeline.{q}.build"
        m[f"{b}_s"] = metric(self_sum(b), "s")
        m[f"pipeline.{q}.exec_s"] = metric(self_sum(f"pipeline.{q}.exec"), "s")
        m[f"pipeline.{q}.jobs_build"] = metric(attr_sum(b, "jobs"), "count")
        m[f"pipeline.{q}.py4j_build"] = metric(
            sum(s.py4j for s in spans if s.name == b), "count"
        )

    def spark_sum(selected, key):
        if key in ("jobs", "stages", "tasks"):
            return sum(s.attrs.get(key, 0) for s in selected)
        return sum(spark_stats.get(s.group, {}).get(key, 0)
                   for s in selected if s.group)

    for prefix, selected in [("", spans)] + [
        (f"{lay}.", [s for s in spans if s.layer == lay]) for lay in LAYERS
    ]:
        for key in SPARK_KEYS:
            m[f"{prefix}spark.{key}"] = metric(
                spark_sum(selected, key), UNITS[key]
            )
        m[f"{prefix}py4j.calls"] = metric(
            sum(s.py4j for s in selected), "count"
        )
    m["trace.wall_s"] = metric(root.duration, "s")
    m["trace.unattributed_s"] = metric(st[root.id], "s")
    m["trace.measure_s"] = metric(self_sum("trace.measure"), "s")
    m["trace.overhead_s"] = metric(traced_wall - untraced_wall, "s")
    return m


# -- main -----------------------------------------------------------------


def parse_args(argv):
    from perfbench.workloads import SHAPES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SHAPES), default="full",
                    help="input size; 'tiny' is for the smoke tests")
    return ap.parse_args(argv)


def library_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("xyzpy_spark/__init__.py", "__spark_entry__.py")
    )


def main(argv=None) -> int:
    if not library_present():
        print(f"perfbench: the xyzpy_spark sources are not in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [p for p in (ROOT,) if p not in sys.path]
    args = parse_args(argv)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the library and the kernel from the
    # checkout; every scratch file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: str) -> dict:
    """Set up, measure and report one run; Spark is always stopped."""
    from perfbench.spans import parse_event_log

    event_log = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(work, event_log)
    session_s = time.perf_counter() - t0
    try:
        m = measure(args, spark, work)
    finally:
        stop_session(spark)
    setup_s = session_s + m.prepare_s + m.warmup_s

    metrics = {}
    if args.trace and m.traced:
        wall, rec = m.traced[(len(m.traced) - 1) // 2]
        untraced = statistics.median(m.walls) if m.walls else wall
        metrics = layer_metrics(
            rec, rec.spans[0], parse_event_log(event_log), untraced, wall
        )
        metrics["session.start_s"] = metric(session_s, "s")
        out_dir = os.path.join(HERE, "_work", "traces")
        os.makedirs(out_dir, exist_ok=True)
        for _, r in m.traced:
            r.dump(os.path.join(out_dir, f"{r.run_id}.json"))
    elif not args.trace and m.walls:
        wall = statistics.median(m.walls)
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "wall_s": metric(wall, "s"),
            "points_per_s": metric(m.points / wall, "points/s"),
            "rows_per_s": metric(m.rows / wall, "rows/s"),
            "peak_rss_mb": metric(m.peak_mb, "MB"),
        }
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"setup={setup_s:.3f}s (session {session_s:.3f}, prepare "
          f"{m.prepare_s:.3f}, warm-up {m.warmup_s:.3f}) reference "
          f"{m.reference_s:.3f}s untraced walls="
          f"{[round(w, 3) for w in m.walls]} traced walls="
          f"{[round(w, 3) for w, _ in m.traced]}")
    for p in m.problems:
        print(f"perfbench: MISMATCH {p}")
    return {
        "correct": m.failed == 0 and bool(metrics),
        "attempted": max(m.attempted, 1),
        "failed": m.failed,
        "metrics": metrics,
    }


@dataclass
class Measured:
    points: int = 0
    rows: int = 0
    prepare_s: float = 0.0
    warmup_s: float = 0.0
    peak_mb: float = 0.0
    reference_s: float = 0.0
    walls: list = field(default_factory=list)   # untraced op walls
    traced: list = field(default_factory=list)  # (wall, Recorder), sorted
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def checked(self, fn) -> bool:
        """Run one output check; a raise or a mismatch is a failed op."""
        self.attempted += 1
        try:
            bad = fn()
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            bad = [f"{type(exc).__name__}: {exc}"]
        if bad:
            self.failed += 1
            self.problems.extend(bad)
        return not bad


def measure(args, spark, work: str) -> Measured:
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor
    from multiprocessing import resource_tracker

    from perfbench.spans import LayerTaps, NullRecorder, Recorder
    from perfbench.workloads import WORKLOADS, listing

    m = Measured()
    # -- set-up: inputs (median of several), then warm-up ----------------
    spawn = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(1, mp_context=spawn) as helper:
        wl = WORKLOADS[args.workload](spark, args.seed, args.size, work,
                                      helper)
        m.prepare_s = statistics.median(
            timed(wl.prepare) for _ in range(PREPARE_REPS)
        )
        warm = [wl]
        if wl.tiny_warmup:
            tiny = WORKLOADS[args.workload](
                spark, args.seed, "tiny", os.path.join(work, "warm-up"),
                helper,
            )
            tiny.prepare()
            warm.insert(0, tiny)
        # check work, outside set-up and before Spark's first operation
        m.reference_s = timed(wl.reference)
    # spawn started multiprocessing's resource tracker, which would
    # otherwise live until this process exits
    resource_tracker._resource_tracker._stop()
    m.points, m.rows = wl.points, wl.rows

    # memory is sampled from the warm-up on: the helper process, which
    # did the set-up and check work, has ended
    rss = PeakRSS()
    rss.start()
    null = NullRecorder()
    t = time.perf_counter()
    # a tiny operation takes the one-time costs (class loading, code
    # generation, Python worker start); a full-size one then lets the
    # JVM compile the hot paths at full size, and is checked
    for w in warm:
        w.before_op()
        w.op(null)
    m.warmup_s = time.perf_counter() - t
    m.checked(wl.check)

    # -- measurement ------------------------------------------------------
    start = time.perf_counter()
    while True:
        for trace_op in ((False, True) if args.trace else (False,)):
            wl.before_op()
            rec = null
            if trace_op:
                rec = Recorder(spark, f"{args.workload}-{args.seed}-"
                                      f"{len(m.traced)}")
                taps = LayerTaps(rec)
                taps.install()
                rec.install_py4j_counter()
            try:
                wall = timed(lambda: wl.op(rec))
            except Exception as exc:  # noqa: BLE001 — counted as failed
                m.checked(lambda: [f"{type(exc).__name__}: {exc}"])
                continue
            finally:
                if trace_op:
                    rec.uninstall_py4j_counter()
                    taps.uninstall()
            ok = m.checked(wl.check)
            if trace_op:
                store = getattr(wl, "store", None)
                if store and os.path.isdir(store):
                    files = listing(store)
                    rec.spans[0].attrs.update(
                        files_written=len(files),
                        bytes_written=sum(n for _, n in files),
                    )
                m.traced.append((wall, rec))
            elif ok:
                m.walls.append(wall)
        # failed operations count too, so a failing run still ends
        done = len(m.walls) + len(m.traced) + m.failed
        if time.perf_counter() - start >= args.seconds and done >= wl.min_ops:
            break
    m.peak_mb = rss.stop()
    m.traced.sort(key=lambda x: x[0])
    if m.traced:
        # job counts live in the session: read them before it stops
        _, rec = m.traced[(len(m.traced) - 1) // 2]
        rec.collect_status(rec.subtree(rec.spans[0]))
    return m


if __name__ == "__main__":
    sys.exit(main())
