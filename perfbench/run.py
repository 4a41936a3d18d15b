"""Regression benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload census_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``). A full report, with per-operation latencies, per-op memo
fills and (traced) the span list, goes to ``.perfbench/``. The exit code
is non-zero when any output is wrong or any operation fails.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DRIVER_MEM = "2g"


class Context:
    """What a workload needs while it runs: the session, the tracer,
    directories, the memo counter and the streaming listener hook."""

    def __init__(self, work_dir: str, run_dir: str, tracer, memo, log):
        self.work_dir, self.run_dir = work_dir, run_dir
        self.tracer, self.memo, self.log = tracer, memo, log
        self.spark = None
        self.pass_no = 0
        self.stream_events: list[dict] = []

    def attach_listener(self, rec, fn, args, kwargs):
        """Wrap ``session.scoped_session``: streaming entries run on
        session clones, and a query listener only sees its own session's
        queries, so each clone gets one bound to the current pass."""
        from perfbench.streaming_listener import ProgressListener

        clone = fn(*args, **kwargs)
        clone.streams.addListener(ProgressListener(self.pass_no, self.stream_events))
        return clone


class MemoCounter:
    """Counts fills and hits of the session-shared memos registered with
    ``session.register_shared_memo``, from their sizes."""

    def __init__(self):
        self.pass_no = 0
        self.by_op: list[dict] = []  # {"pass", "op", "fills"}
        self.accesses: list[dict] = []  # {"pass", "hit", "s"}
        self._depth = 0

    @staticmethod
    def size() -> int:
        from clean_census_acs_data_spark.session import _SHARED_MEMO_REGISTRY

        return sum(len(memo) for memo, _ in _SHARED_MEMO_REGISTRY)

    def bill(self, op: str, fills: int) -> None:
        self.by_op.append({"pass": self.pass_no, "op": op, "fills": max(0, fills)})

    def observe(self, rec, fn, args, kwargs):
        """Run one memo accessor: a hit when no memo grew during the call.
        Fill time is billed to the outermost accessor that filled."""
        before = self.size()
        self._depth += 1
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._depth -= 1
            grew = self.size() > before
            self.accesses.append({
                "pass": self.pass_no,
                "hit": not grew,
                "s": time.perf_counter() - t if grew and self._depth == 0 else 0.0,
            })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the launcher's JVM exits when its stdin closes
    proc.wait(timeout=60)


def main(argv=None) -> int:
    from perfbench.procstat import process_age_s

    # process start, on the perf_counter clock
    t_start = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work_dir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, d))
    # everything Spark and Python spill, stage or zip stays in the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata file under /tmp from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None

    from perfbench import stats
    from perfbench.procstat import PeakRss
    from perfbench.report import E2E, layer_metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]()
    log = sys.stderr
    tracer = Tracer(enabled=bool(args.trace))
    memo = MemoCounter()
    ctx = Context(work_dir, run_dir, tracer, memo, log)

    # -- set-up: imports, inputs (not billed), session ------------------
    import importlib

    from clean_census_acs_data_spark import session as S

    for module in workload.modules:
        importlib.import_module(module)

    t = time.perf_counter()
    workload.prepare(ctx, args.seed)
    excluded_s = time.perf_counter() - t

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # a fixed heap: no resizing, so resident memory and GC placement
        # vary less from run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
        })
    t = time.perf_counter()
    spark = S.get_spark(app_name=f"perfbench-{workload.name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    try:
        ctx.spark = spark
        tracer.sc = spark.sparkContext
        if args.trace:
            workload.instrument(ctx)

        # -- correctness pass: the first touch of every operation -------
        t = time.perf_counter()
        check = workload.check_pass(ctx)
        warm_s = time.perf_counter() - t
        # set-up is everything before the first timed pass except making inputs
        setup_s = time.perf_counter() - t_start - excluded_s

        # whole passes, until the next one would likely end past --seconds
        passes = []
        jvm_pid = spark.sparkContext._gateway.proc.pid
        t_timed = time.perf_counter()
        with PeakRss(jvm_pid) as rss:
            while not passes or (
                time.perf_counter() - t_timed + stats.median([p["pass_s"] for p in passes])
                <= args.seconds
            ):
                ctx.pass_no = memo.pass_no = tracer.pass_no = len(passes) + 1
                rec = tracer.open("pass")
                passes.append(workload.timed_pass(ctx))
                tracer.close(rec)
        tracer.finish()
        n_passes = len(passes)

        attempted = check["attempted"] + sum(p["attempted"] for p in passes)
        failed = check["failed"] + sum(p["failed"] for p in passes)
        correct = failed == 0 and not check["mismatches"] and not any(p["mismatches"] for p in passes)
        latencies = [op.latency_s for p in passes for op in p["ops"]]
        op_tail = stats.slowest_op([(op.name, op.latency_s) for p in passes for op in p["ops"]])
        op_tail["pooled_rule"] = stats.tail(latencies)
        pass_times = [p["pass_s"] for p in passes]

        e2e = {
            "setup_s": setup_s,
            "pass_s": stats.median(pass_times),
            "op_p50_s": stats.median(latencies),
            "op_tail_s": op_tail["value"],
            "ok_share": 1.0 - failed / attempted,
            "peak_rss_mb": rss.peak / 2**20,
        }
        report = {
            "workload": workload.name,
            "seed": args.seed,
            "cores": cores,
            "passes": n_passes,
            "setup": {"setup_s": setup_s, "excluded_inputs_s": excluded_s,
                      "session.get_spark_s": get_spark_s, "session.warm_s": warm_s},
            "op_tail": op_tail,
            "peak_rss_mb_by_pid": {pid: b / 2**20 for pid, b in rss.peak_by_pid.items()},
            "pass_s": pass_times,
            "ops": [[p_i, op.name, op.latency_s, op.ok, op.error]
                    for p_i, p in enumerate([check] + passes) for op in p["ops"]],
            "memo_fills_by_op": [r for r in memo.by_op if r["fills"]],
            "counts": [p["counts"] for p in [check] + passes],
            "mismatches": check["mismatches"] + [m for p in passes for m in p["mismatches"]],
        }
    finally:
        stop_spark(spark)

    if args.trace:
        metrics = layer_metrics(
            ctx, passes, report, cores=cores, get_spark_s=get_spark_s, warm_s=warm_s,
            event_dir=os.path.join(run_dir, "eventlog"),
        )
        tracer.dump(os.path.join(work_dir, f"spans-{workload.name}.json"))
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in E2E}
    report["metrics"] = metrics
    with open(os.path.join(work_dir, f"report-{workload.name}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for k, m in metrics.items():
        print(f"{workload.name} {k} = {m['value']:.6g} {m['unit']}", file=log)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
