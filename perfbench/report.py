"""Per-layer metrics of a traced run, from its spans, its per-pass
counters, its streaming progress events and its Spark event log.

Every value is per timed pass, the median over passes, except the two
``session.*`` set-up times. A layer the workload never calls reads 0.
"""

from __future__ import annotations

import os
from collections import defaultdict

from perfbench import stats
from perfbench.trace import attribute_jobs, fold_event_log, self_times

# metric -> span name; the value is the summed duration of the outermost
# spans of that name in a pass
SPAN_TIMES = {
    "sources.census.request_specs_s": "sources.census.request_specs",
    "sources.rest.fetch_s": "sources.rest.fetch",
    "sources.rest.decode_s": "sources.rest.decode",
    "sources.audit.append_s": "sources.audit.append",
    "transforms.plan_s": "transforms.plan",
    "plans.census_pipeline.write_s": "plans.census_pipeline.write",
    "plans.census_pipeline.readback_s": "plans.census_pipeline.readback",
    "io.load_table_s": "io.load_table",
    "queries.build_s": "queries.build",
    "queries.execute_s": "queries.execute",
}
# metric -> span name; the value is the latency of the operations that
# called the layer (its frames are lazy, so their cost lands in the op)
OP_TIMES = {
    "operators.dedup.s": "operators.dedup",
    "operators.components.s": "operators.components",
    "operators.similarity.ivf_topk_s": "operators.similarity.ivf_topk",
}
COUNTS = (
    "sources.rest.requests",
    "sources.rest.attempts",
    "sources.rest.useful_ratio",
    "sources.rest.dead_letters",
    "sources.rest.wire_bytes",
    "sources.audit.rows",
    "plans.census_pipeline.files_written",
    "plans.census_pipeline.bytes_written",
    "operators.dedup.candidate_pairs",
    "operators.dedup.kept_pairs",
    "operators.dedup.verify_yield",
    "spark.storage_bytes_held",
)

# (name, unit) of every end-to-end metric, in report order
E2E = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("ok_share", "ratio"),
    ("peak_rss_mb", "MB"),
)

# (name, unit) of every per-layer metric, in report order
PER_LAYER = (
    [("session.get_spark_s", "s"), ("session.warm_s", "s")]
    + [(k, "s") for k in SPAN_TIMES]
    + [(k, "s") for k in OP_TIMES]
    + [
        ("sources.rest.requests", "count"),
        ("sources.rest.attempts", "count"),
        ("sources.rest.useful_ratio", "ratio"),
        ("sources.rest.dead_letters", "count"),
        ("sources.rest.wire_bytes", "B"),
        ("sources.audit.rows", "count"),
        ("plans.census_pipeline.files_written", "count"),
        ("plans.census_pipeline.bytes_written", "B"),
        ("operators.dedup.candidate_pairs", "count"),
        ("operators.dedup.kept_pairs", "count"),
        ("operators.dedup.verify_yield", "ratio"),
        ("operators.components.jobs", "count"),
        ("memo.fills", "count"),
        ("memo.hits", "count"),
        ("memo.fill_s", "s"),
        ("streaming.batches", "count"),
        ("streaming.trigger_p50_ms", "ms"),
        ("streaming.query_planning_ms", "ms"),
        ("streaming.wal_commit_ms", "ms"),
        ("streaming.state_rows", "count"),
        ("streaming.state_memory_bytes", "B"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.exec_run_s", "s"),
        ("spark.exec_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.deserialize_s", "s"),
        ("spark.shuffle_write_bytes", "B"),
        ("spark.shuffle_read_bytes", "B"),
        ("spark.fetch_wait_s", "s"),
        ("spark.spill_bytes", "B"),
        ("spark.python_s", "s"),
        ("spark.driver_overhead_s", "s"),
        ("spark.cpu_per_run", "ratio"),
        ("spark.storage_bytes_held", "B"),
        ("trace.pass_s", "s"),
    ]
)


def _outermost(spans: list[dict], name: str) -> list[dict]:
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name or s["end"] is None:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _descendants(spans: list[dict]) -> dict[int, set[int]]:
    """span id -> ids of the span and everything below it."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out = {}
    for s in spans:
        seen, todo = set(), [s["id"]]
        while todo:
            i = todo.pop()
            seen.add(i)
            todo.extend(kids[i])
        out[s["id"]] = seen
    return out


def _read_event_log(event_dir: str) -> list[str]:
    lines = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            lines.extend(f)
    return lines


def layer_metrics(ctx, passes, report, *, cores, get_spark_s, warm_s, event_dir) -> dict:
    spans = ctx.tracer.spans
    n = len(passes)
    pass_ids = range(1, n + 1)
    per_pass: dict[str, list[float]] = defaultdict(lambda: [0.0] * n)

    def add(metric: str, pass_no, value: float) -> None:
        if pass_no in pass_ids:
            per_pass[metric][pass_no - 1] += value

    for metric, name in SPAN_TIMES.items():
        for s in _outermost(spans, name):
            add(metric, s["pass"], s["end"] - s["start"])

    below = _descendants(spans)
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["name"].startswith("op:") and s["end"] is not None]
    layer_ops: dict[str, list[dict]] = {}
    for metric, name in OP_TIMES.items():
        layer_ops[name] = [o for o in ops if any(by_id[i]["name"] == name for i in below[o["id"]])]
        for o in layer_ops[name]:
            add(metric, o["pass"], o["end"] - o["start"])

    for i, p in enumerate(passes, start=1):
        for k in COUNTS:
            add(k, i, p["counts"].get(k, 0))
    for r in ctx.memo.by_op:
        add("memo.fills", r["pass"], r["fills"])
    for r in ctx.memo.accesses:
        add("memo.hits", r["pass"], 1 if r["hit"] else 0)
        add("memo.fill_s", r["pass"], r["s"])

    triggers = defaultdict(list)
    last_state: dict[str, dict] = {}
    for e in ctx.stream_events:
        add("streaming.batches", e["pass"], 1)
        d = e["duration_ms"]
        triggers[e["pass"]].append(d.get("triggerExecution", 0))
        add("streaming.query_planning_ms", e["pass"], d.get("queryPlanning", 0))
        add("streaming.wal_commit_ms", e["pass"], d.get("walCommit", 0))
        last_state[e["query"]] = e
    for p, ts in triggers.items():
        add("streaming.trigger_p50_ms", p, stats.median(ts))
    for e in last_state.values():
        add("streaming.state_rows", e["pass"], e["state_rows"])
        add("streaming.state_memory_bytes", e["pass"], e["state_memory_bytes"])

    jobs = fold_event_log(_read_event_log(event_dir))
    owner = attribute_jobs(jobs, spans)
    cc_spans = set().union(*(below[o["id"]] for o in layer_ops["operators.components"]))
    for jid, j in jobs.items():
        sid = owner[jid]
        if sid is None:
            continue
        p = by_id[sid]["pass"]
        if sid in cc_spans:
            add("operators.components.jobs", p, 1)
        add("spark.jobs", p, j["jobs"])
        add("spark.stages", p, j["stages"])
        add("spark.tasks", p, j["tasks"])
        add("spark.exec_run_s", p, j["run_ms"] / 1e3)
        add("spark.exec_cpu_s", p, j["cpu_ns"] / 1e9)
        add("spark.gc_s", p, j["gc_ms"] / 1e3)
        add("spark.deserialize_s", p, j["deserialize_ms"] / 1e3)
        add("spark.shuffle_write_bytes", p, j["shuffle_write_bytes"])
        add("spark.shuffle_read_bytes", p, j["shuffle_read_bytes"])
        add("spark.fetch_wait_s", p, j["fetch_wait_ms"] / 1e3)
        add("spark.spill_bytes", p, j["spill_bytes"])
        add("spark.python_s", p, j["python_ms"] / 1e3)
    for i, p in enumerate(passes):
        run_s, cpu_s = per_pass["spark.exec_run_s"][i], per_pass["spark.exec_cpu_s"][i]
        per_pass["spark.driver_overhead_s"][i] = p["pass_s"] - run_s / cores
        per_pass["spark.cpu_per_run"][i] = cpu_s / run_s if run_s else 0.0
        per_pass["trace.pass_s"][i] = p["pass_s"]

    values = {k: stats.median(v) for k, v in per_pass.items()}
    values["session.get_spark_s"] = get_spark_s
    values["session.warm_s"] = warm_s
    self_s = defaultdict(float)
    for sid, t in self_times(spans).items():
        if by_id[sid]["pass"] in pass_ids:
            self_s[by_id[sid]["name"]] += t / n
    report["self_s_per_pass_by_span"] = dict(self_s)
    report["span_of_job"] = {str(k): v for k, v in owner.items()}
    return {name: {"value": values.get(name, 0), "unit": unit} for name, unit in PER_LAYER}
