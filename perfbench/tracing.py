"""Spans, Spark job tags and event-log parsing for the traced run, plus the
small statistics helpers both run modes use.

A span marks one call from the benchmark into a layer (a module of the
program). While a span is open, every Spark job the thread starts carries the
tag ``bench:<workload>:<op>:<layer>:<phase>``; after the session stops, the
event log is parsed and its job, stage and task metrics are summed per tag.
Spans live in memory and are written out once, at exit.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager

TAG_PREFIX = "bench:"


# --- statistics -------------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its direct children cover.

    Children may overlap each other (they never do in this single-threaded
    benchmark, but the union is what a parent waits on), so the covered part
    is the length of the union of the children's intervals clipped to the
    parent."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --- spans and tags ---------------------------------------------------------

class Tracer:
    """Records spans and tags Spark jobs while ``enabled``; a no-op otherwise,
    so the timed run and the traced run execute the same op code."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id = None
        self.op = "setup"
        self._stack: list[dict] = []
        self._persisted: list = []

    def _set_tag(self, tag: str | None) -> None:
        self.spark.clearTags()
        if tag:
            self.spark.addTag(tag)

    @contextmanager
    def span(self, layer: str, phase: str, tag: bool = True):
        """Time a call into ``layer``. ``tag=False`` skips the job tag for
        driver-only calls (no Spark job can start inside them)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "op": self.op,
            "layer": layer,
            "phase": phase,
            "parent": parent["id"] if parent else None,
            "tag": f"{TAG_PREFIX}{self.workload}:{self.op}:{layer}:{phase}" if tag else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if tag:
            self._set_tag(rec["tag"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if tag:
                outer = next((s["tag"] for s in reversed(self._stack) if s["tag"]), None)
                self._set_tag(outer)

    def materialize(self, df, layer: str):
        """Traced runs cut the fused Spark stages at a layer boundary: the
        layer's output is cached and counted inside an ``exec`` span, so the
        next layer's jobs read the cache instead of recomputing it."""
        if not self.enabled:
            return df
        with self.span(layer, "exec"):
            df = df.persist()
            df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        """Drop what ``materialize`` cached during the pass."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def wrap(self, module, name: str, layer: str, phase: str):
        """Replace ``module.name`` with a spanned call-through; returns an
        undo callable. Used for driver-side functions the benchmark cannot
        bracket from outside (they are called inside an operator)."""
        fn = getattr(module, name)

        def spanned(*args, **kwargs):
            with self.span(layer, phase, tag=False):
                return fn(*args, **kwargs)

        setattr(module, name, spanned)
        return lambda: setattr(module, name, fn)


# --- event log ---------------------------------------------------------------

def _bench_tag(tags: str) -> str | None:
    """The benchmark's tag among a job's tags. Spark prefixes user tags with
    the session and thread ids, so match on the embedded ``bench:``."""
    for t in tags.split(","):
        i = t.find(TAG_PREFIX)
        if i >= 0:
            return t[i:]
    return None


def _count_exchanges(plan: dict) -> int:
    name = plan.get("nodeName", "")
    own = 1 if name in ("Exchange", "BroadcastExchange") else 0
    return own + sum(_count_exchanges(c) for c in plan.get("children", ()))


def empty_tag_stats() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "max_stage_skew": 1.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "shuffle_records_written": 0,
        "spill_bytes": 0, "exchanges": 0,
    }


def parse_event_log(path: str) -> dict[str, dict]:
    """Sum job/stage/task metrics per benchmark tag from an uncompressed,
    non-rolling Spark event log. Jobs without a benchmark tag are ignored.

    Per tag: jobs, stages, tasks, task_s (executor run time), max_stage_skew
    (max over stages of max/median task run time), shuffle bytes written and
    read, shuffle records written, spill bytes (memory + disk), and the
    Exchange count of the final adaptive plan of every SQL execution whose
    jobs carry the tag."""
    stage_tag: dict[int, str] = {}
    exec_tag: dict[str, set] = {}
    plans: dict[str, dict] = {}
    task_ms: dict[int, list[int]] = {}
    out: dict[str, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = _bench_tag(props.get("spark.job.tags", ""))
                if tag is None:
                    continue
                st = out.setdefault(tag, empty_tag_stats())
                st["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_tag[sid] = tag
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_tag.setdefault(str(eid), set()).add(tag)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_tag:
                    out[stage_tag[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_tag:
                    continue
                st = out[stage_tag[sid]]
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                st["tasks"] += 1
                st["task_s"] += run_ms / 1000.0
                task_ms.setdefault(sid, []).append(run_ms)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                plans[str(ev["executionId"])] = ev["sparkPlanInfo"]
    for sid, ms in task_ms.items():
        med = statistics.median(ms)
        if len(ms) >= 2 and med > 0:
            st = out[stage_tag[sid]]
            st["max_stage_skew"] = max(st["max_stage_skew"], max(ms) / med)
    for eid, tags in exec_tag.items():
        if eid in plans:
            n = _count_exchanges(plans[eid])
            for tag in tags:
                out[tag]["exchanges"] += n
    return out
