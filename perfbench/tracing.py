"""Span recorder, Spark event-log parser and per-layer attribution.

Spans are recorded from the benchmark's side only: :func:`install` wraps the
public entry points of each engine layer (``sources``, ``operators``,
``lake``, ``plans``) by rebinding the module or class attribute the engine
calls through, so no engine file changes. Each span keeps its name, start,
end and parent; spans live in memory until the run ends.

Spark's own stage metrics come from the event log the benchmark session
writes (``spark.eventLog.enabled``). A stage belongs to the innermost span
open at its submission time. The driver loop is sequential, so spans nest
and never overlap.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from dataclasses import dataclass, field

LAYERS = ("sources", "operators", "lake", "plans")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    info: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span stack. Times are wall-clock seconds (``time.time``) so
    they compare directly with the millisecond timestamps in Spark's event
    log."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def open(self, name: str) -> Span:
        parent = self._open[-1].sid if self._open else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._open.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        popped = self._open.pop()
        if popped is not s:
            raise RuntimeError(f"span {s.name} closed out of order")

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, name: str, fn, after=None, before=None):
        """``fn`` recorded as span ``name``. ``before(args)`` runs ahead of
        the span and its result reaches ``after(span, args, result, ctx)``,
        which may attach counts to the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            ctx = before(args) if before is not None else None
            s = self.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(s)
            if after is not None:
                after(s, args, out, ctx)
            return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def install(rec: Recorder, inspect_lake: bool) -> None:
    """Wrap every engine entry point the benchmark attributes time to.

    ``inspect_lake`` adds the traced-run counters that cost I/O (bytes a
    compaction rewrote); the timed runs leave it off."""
    from cnpj_data_pipeline_spark.lake import format as lake_format
    from cnpj_data_pipeline_spark.operators import copart
    from cnpj_data_pipeline_spark.plans import ivm, pipeline
    from cnpj_data_pipeline_spark.sources import change_stream

    LakeTable = lake_format.LakeTable

    def patch(owner, attr: str, name: str, after=None, before=None):
        setattr(owner, attr, rec.wrap(name, getattr(owner, attr), after, before))

    for fn in ("pending_epochs", "bucketed_layout", "epoch_row_count", "read_epoch"):
        patch(change_stream, fn, f"sources.{fn}")

    def applied(s, args, m, _ctx):
        s.info.update(
            epoch=m.get("epoch"),
            rows_applied=m.get("rows_applied", 0),
            merge_write_s=(m.get("phases") or {}).get("merge_write", 0.0),
        )

    # run_stream calls apply_changes through the name bound in pipeline, and
    # apply_changes_copart through the copart module
    patch(pipeline, "apply_changes", "operators.apply", applied)
    patch(copart, "apply_changes_copart", "operators.apply", applied)

    patch(LakeTable, "commit", "lake.commit")

    def compact_before(args):
        return args[0].snapshot() if inspect_lake else None

    def compact_after(s, args, sid, before):
        s.info["compacted"] = sid is not None
        if sid is None or before is None:
            return
        table = args[0]
        now = {
            f for info in table.snapshot(sid)["buckets"].values() for f in info["files"]
        }
        gone = [
            f
            for info in before["buckets"].values()
            for f in info["files"]
            if f not in now
        ]
        s.info["bytes_rewritten"] = _file_bytes(table, gone)

    patch(LakeTable, "compact_if_needed", "lake.compact", compact_after, compact_before)
    patch(LakeTable, "read_changes_typed", "lake.changes_typed")
    # the CAS attempt behind every commit: more attempts than commits are
    # retries after a lost race
    if hasattr(LakeTable, "_build_and_cas"):
        patch(LakeTable, "_build_and_cas", "lake.cas_attempt")
    patch(pipeline.IngestJob, "run_stream", "plans.run_stream")
    patch(ivm.AggSyncJob, "run_once", "plans.view_refresh")
    # the view consumer merges into the view through the name bound in ivm
    patch(ivm, "apply_changes", "plans.view_merge", applied)


def _file_bytes(table, relpaths) -> int:
    import os

    total = 0
    for rp in relpaths:
        p = rp if os.path.isabs(rp) else os.path.join(table.root, rp)
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return total


# ---------------------------------------------------------------- event log


@dataclass
class Stage:
    stage_id: int
    attempt: int
    submitted: float  # seconds, wall clock
    tasks: list[dict] = field(default_factory=list)


def parse_event_log(lines) -> list[Stage]:
    """Stages with their tasks' metrics from Spark's JSON event log lines
    (``SparkListenerStageCompleted`` + ``SparkListenerTaskEnd``)."""
    tasks: dict[tuple[int, int], list[dict]] = {}
    stages: list[Stage] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), []).append(
                {
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                    "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                }
            )
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Submission Time" not in si:
                continue  # skipped stage: its map output was reused
            stages.append(
                Stage(si["Stage ID"], si["Stage Attempt ID"], si["Submission Time"] / 1000.0)
            )
    for st in stages:
        st.tasks = tasks.get((st.stage_id, st.attempt), [])
    return stages


def attribute(spans: list[Span], stages: list[Stage]) -> dict[int, list[Stage]]:
    """Span id -> the stages submitted while it was the innermost open span.
    Stages submitted outside every span map to ``-1``."""
    closed = [s for s in spans if s.end is not None]
    out: dict[int, list[Stage]] = {}
    for st in stages:
        best = None
        for s in closed:
            if s.start <= st.submitted <= s.end and (
                best is None or s.start >= best.start
            ):
                best = s
        out.setdefault(best.sid if best else -1, []).append(st)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.seconds
    return {s.sid: s.seconds - child.get(s.sid, 0.0) for s in spans}


def stage_totals(stages: list[Stage]) -> dict[str, float]:
    t = {
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_write_s": 0.0,
        "shuffle_read_bytes": 0,
        "fetch_wait_s": 0.0,
        "spill_bytes": 0,
    }
    for st in stages:
        for k in st.tasks:
            t["run_s"] += k["run_ms"] / 1000.0
            t["cpu_s"] += k["cpu_ns"] / 1e9
            t["gc_s"] += k["gc_ms"] / 1000.0
            t["shuffle_write_bytes"] += k["shuffle_write_bytes"]
            t["shuffle_write_s"] += k["shuffle_write_ns"] / 1e9
            t["shuffle_read_bytes"] += k["shuffle_read_bytes"]
            t["fetch_wait_s"] += k["fetch_wait_ms"] / 1000.0
            t["spill_bytes"] += k["spill_bytes"]
    return t


def task_skew(stages: list[Stage]) -> float:
    """Median over stages (of two or more tasks) of max / median task run
    time; 1.0 when no stage has two tasks."""
    ratios = []
    for st in stages:
        runs = [k["run_ms"] for k in st.tasks]
        if len(runs) >= 2:
            med = statistics.median(runs)
            ratios.append(max(runs) / med if med > 0 else 1.0)
    return statistics.median(ratios) if ratios else 1.0


def layer_table(spans: list[Span], wall_s: float) -> dict[str, float]:
    """Self seconds per layer, plus what no layer span covers (the
    benchmark's own loop) and the share of ``wall_s`` the layers explain."""
    st = self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        if s.layer in out:
            out[s.layer] += st[s.sid]
    roots = sum(s.seconds for s in spans if s.parent is None and s.layer in out)
    out["unattributed"] = max(wall_s - roots, 0.0)
    out["attributed_share"] = roots / wall_s if wall_s > 0 else 0.0
    return out
