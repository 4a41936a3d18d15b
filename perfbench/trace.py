"""Spans around layer calls, and a stdlib-only fold of a Spark event log.

Spans are recorded from outside the program: the benchmark wraps the
public functions of each layer and opens a span around every call. Each
span sets its own Spark job group, so every job, stage and task in the
event log can be billed to the innermost span that was open when the job
started. Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

# the SQL metric (milliseconds) in which PySpark's Python exec nodes
# report their worker time
PYTHON_TIME_METRIC = "time to run Python workers"
GROUP_PREFIX = "pb:"

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "deserialize_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
    "python_ms",
)


class Tracer:
    """Records spans (name, start, end, parent, pass) when enabled; a
    no-op context otherwise, so untraced runs pay nothing per call."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_no: int | None = None
        self._stack: list[int] = []
        self._tail: dict | None = None

    def _set_group(self) -> None:
        if self.sc is None:
            return
        top = self._tail["id"] if self._tail else (self._stack[-1] if self._stack else None)
        if top is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{top}", self.spans[top]["name"])

    def _close_tail(self) -> None:
        if self._tail is not None:
            self._tail["end"] = time.perf_counter()
            self._tail = None

    def open(self, name: str) -> dict | None:
        if not self.enabled:
            return None
        self._close_tail()
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "wall_start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_no,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        return rec

    def close(self, rec: dict | None, *, tail: bool = False) -> None:
        """End a span. A ``tail`` span stays the billing target after its
        call returns, until the next span opens or its parent ends: the
        layer returned a lazy frame that its caller executes at once."""
        if rec is None:
            return
        self._close_tail()
        self._stack.pop()
        if tail:
            self._tail = rec
        else:
            rec["end"] = time.perf_counter()
        self._set_group()

    def span(self, name: str):
        return _Span(self, name)

    def finish(self) -> None:
        self._close_tail()
        self._set_group()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.rec = tracer, name, None

    def __enter__(self):
        self.rec = self.tracer.open(self.name)
        return self.rec

    def __exit__(self, *exc):
        self.tracer.close(self.rec)
        return False


def instrument(tracer: Tracer, module, attr: str, span_name: str, *, tail: bool = False, on_call=None) -> None:
    """Replace ``module.attr`` with a span-recording wrapper, everywhere
    the package holds a module-level reference to the same function (a
    ``from x import f`` copies the reference into the importing module).
    ``on_call(rec, fn, args, kwargs)`` may run the call itself, to
    observe state around it."""
    original = getattr(module, attr)

    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        rec = tracer.open(span_name)
        try:
            if on_call is not None:
                return on_call(rec, original, args, kwargs)
            return original(*args, **kwargs)
        finally:
            tracer.close(rec, tail=tail)

    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if not name.startswith("clean_census_acs_data_spark"):
            continue
        for key, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, key, wrapper)


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------


def fold_event_log(lines) -> dict[int, dict]:
    """Fold an uncompressed Spark event log into one record per job:
    its job group, submission time (epoch ms) and the summed task
    counters of its completed stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": ev.get("Submission Time"),
                **{k: 0 for k in SPARK_COUNTERS},
                "jobs": 1,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            j = jobs[jid]
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            j["tasks"] += 1
            j["run_ms"] += m.get("Executor Run Time", 0)
            j["cpu_ns"] += m.get("Executor CPU Time", 0)
            j["gc_ms"] += m.get("JVM GC Time", 0)
            j["deserialize_ms"] += m.get("Executor Deserialize Time", 0)
            j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME_METRIC:
                    j["python_ms"] += int(acc.get("Update") or 0)
    return jobs


def attribute_jobs(jobs: dict[int, dict], spans: list[dict]) -> dict[int, int | None]:
    """job id -> span id. A job whose group is one of the benchmark's
    spans goes to that span. Others (a streaming micro-batch sets its own
    group) go to the innermost span open at the job's submission time."""
    out: dict[int, int | None] = {}
    for jid, j in jobs.items():
        g = j["group"] or ""
        if g.startswith(GROUP_PREFIX):
            out[jid] = int(g[len(GROUP_PREFIX):])
            continue
        best = None
        t = (j["submit_ms"] or 0) / 1000.0
        for s in spans:
            if s["end"] is None:
                continue
            start = s["wall_start"]
            if start <= t <= start + (s["end"] - s["start"]):
                if best is None or start >= best["wall_start"]:
                    best = s
        out[jid] = best["id"] if best else None
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {
        s["id"]: (s["end"] - s["start"]) - child[s["id"]]
        for s in spans
        if s["end"] is not None
    }
