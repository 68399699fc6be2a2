"""Layer tracing from outside the package, for the traced benchmark run.

``Tracer.install`` wraps the public entry points of each layer (module
attributes of ``pipeline``/``strategies`` and methods of ``Processing``,
``LakeTable``, ``WatermarkStore`` and ``DatalakeLogManager``) with a span
recorder; ``uninstall`` restores the originals. Each span is
``{id, name, parent, load_id, start, end}`` in memory; while a span is open
its id is the ``bench.span`` local property of the SparkContext, so every
Spark job submitted inside it carries the id into the event log.
``attribute`` then reads the uncompressed event log and charges jobs,
stages and task metrics to the innermost span that submitted them.

``pipeline`` and ``strategies`` only build lazy plans: their spans hold
plan-build time, and the execution of those plans is charged to the
``LakeTable`` write span that consumes them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

# LakeTable methods whose spans also record the bytes/files they add to or
# remove from the table directory (measured outside the span's own clock).
_FS_DIFF = {"overwrite", "replace_partitions", "merge_patch",
            "compact_small_segments", "optimize", "vacuum"}

LAKE_METHODS = ["overwrite", "replace_partitions", "merge_patch", "read",
                "to_view_sql", "compact_small_segments", "optimize", "vacuum",
                "latest_manifest", "gc_orphans"]


def dir_files(path: str) -> dict[str, int]:
    """{relative file path: size} of every file under ``path``."""
    out: dict[str, int] = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Span:
    __slots__ = ("id", "name", "parent", "load_id", "start", "end", "wall0",
                 "own_bk", "inner_bk", "children", "fs")

    def __init__(self, sid, name, parent, load_id):
        self.id, self.name, self.parent, self.load_id = sid, name, parent, load_id
        self.start = self.end = self.wall0 = 0.0
        self.own_bk = self.inner_bk = 0.0
        self.children: list[Span] = []
        self.fs: dict[str, float] = {}

    @property
    def dur(self) -> float:
        """Duration without the tracer's own file-system bookkeeping."""
        return self.end - self.start - self.inner_bk

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name,
                "parent": self.parent.id if self.parent else None,
                "load_id": self.load_id, "start": self.start, "end": self.end,
                "dur": self.dur, "self": self.self_s, **self.fs}


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    active = False
    recording = False
    load_id = 0

    def span(self, name: str, table_path: str | None = None):
        return contextlib.nullcontext()


class Tracer:
    active = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.load_id = 0
        self._saved: list[tuple[object, str, object]] = []
        self.recording = False

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, table_path: str | None = None):
        if not self.recording:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, parent, self.load_id)
        before = None
        if table_path is not None:
            t = time.perf_counter()
            before = dir_files(table_path)
            sp.own_bk += time.perf_counter() - t
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self.stack.append(sp)
        self.sc.setLocalProperty("bench.span", str(sp.id))
        sp.wall0 = time.time()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty("bench.span", str(parent.id) if parent else None)
            if before is not None:
                t = time.perf_counter()
                after = dir_files(table_path)
                added = [p for p in after if p not in before]
                removed = [p for p in before if p not in after]
                sp.fs = {
                    "bytes_written": float(sum(after[p] for p in added)),
                    "files_written": float(sum(1 for p in added if p.endswith(".parquet"))),
                    "bytes_deleted": float(sum(before[p] for p in removed)),
                }
                sp.own_bk += time.perf_counter() - t
            if parent is not None:
                parent.inner_bk += sp.own_bk + sp.inner_bk

    def _wrap(self, owner, attr: str, name: str, table_arg: bool = False) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            path = getattr(args[0], "path", None) if table_arg else None
            with tracer.span(name, table_path=path):
                return orig(*args, **kwargs)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from datalakefoundation_spark import log as L
        from datalakefoundation_spark import pipeline as P
        from datalakefoundation_spark import processing as PR
        from datalakefoundation_spark import strategies as S
        from datalakefoundation_spark import watermark as W
        from datalakefoundation_spark.tables import lake_table as LT

        self._wrap(P, "apply_pipeline", "pipeline.apply_pipeline")
        self._wrap(S, "merge_state", "strategies.merge_state")
        self._wrap(S, "scd2_state", "strategies.scd2_state")
        for m in ("process", "get_source", "register_silver_in_catalog"):
            self._wrap(PR.Processing, m, f"processing.{m}")
        for m in LAKE_METHODS:
            self._wrap(LT.LakeTable, m, f"tables.lake_table.{m}", table_arg=m in _FS_DIFF)
        for m in ("write", "latest"):
            self._wrap(W.WatermarkStore, m, f"watermark.WatermarkStore.{m}")
        for m in ("log", "flush"):
            self._wrap(L.DatalakeLogManager, m, f"log.DatalakeLogManager.{m}")
        self.recording = True

    def uninstall(self) -> None:
        self.recording = False
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        self.sc.setLocalProperty("bench.span", None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.spans], fh)


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse every uncompressed event log in ``log_dir`` into
    (jobs, stage_metrics): jobs[id] = {span, start, end, stages};
    stage_metrics[stage id] = summed task metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get("bench.span")
                    jobs[ev["Job ID"]] = {
                        "span": int(span) if span not in (None, "") else None,
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None, "stages": list(ev.get("Stage IDs") or []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0,
                        "fetch_wait_s": 0.0, "spill_bytes": 0.0})
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0) + tm.get("Memory Bytes Spilled", 0)
    return jobs, stages


def _union(intervals) -> float:
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


_TASK_KEYS = ("tasks", "cpu_s", "gc_s", "shuffle_bytes", "fetch_wait_s", "spill_bytes")


def attribute(spans: list[Span], jobs: dict, stages: dict) -> dict[int, dict]:
    """Per span id: jobs and task metrics of the span's whole subtree, and
    the time inside the span when no Spark job was running."""
    own: dict[int, dict] = {s.id: {"jobs": 0, **{k: 0.0 for k in _TASK_KEYS}} for s in spans}
    seen_stages: set[int] = set()
    for jid in sorted(jobs):
        j = jobs[jid]
        if j["span"] is None or j["span"] not in own:
            continue
        acc = own[j["span"]]
        acc["jobs"] += 1
        for sid in j["stages"]:
            if sid in stages and sid not in seen_stages:
                seen_stages.add(sid)
                for k in _TASK_KEYS:
                    acc[k] += stages[sid][k]
    out: dict[int, dict] = {}
    for s in reversed(spans):  # children are recorded after their parents
        tot = dict(own[s.id])
        for c in s.children:
            for k, v in out[c.id].items():
                if k != "driver_only_s":
                    tot[k] += v
        out[s.id] = tot
    done = [(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None]
    for s in spans:
        lo, hi = s.wall0, s.wall0 + (s.end - s.start)
        busy = _union((max(a, lo), min(b, hi)) for a, b in done if b > lo and a < hi)
        out[s.id]["driver_only_s"] = max(0.0, s.dur - busy)
    return out


def window_totals(jobs: dict, stages: dict, lo: float, hi: float) -> dict[str, float]:
    """Spark-wide totals for the jobs submitted inside [lo, hi] (wall clock)."""
    tot = {"jobs": 0.0, **{k: 0.0 for k in _TASK_KEYS}}
    done = []
    seen: set[int] = set()
    for j in jobs.values():
        if j["end"] is None or not (lo <= j["start"] <= hi):
            continue
        tot["jobs"] += 1
        done.append((max(j["start"], lo), min(j["end"], hi)))
        for sid in j["stages"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                for k in _TASK_KEYS:
                    tot[k] += stages[sid][k]
    tot["busy_s"] = _union(done)
    return tot
