"""The benchmark's workloads: one timed pass, its correctness check, and
the per-layer counters each one reads from outside the program."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import time
import traceback

from perfbench import census_wire, tables

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, not counting Spark's
    ``_SUCCESS`` markers and checksum files."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _storage_bytes_held(spark) -> int:
    """Memory + disk bytes of every RDD block the context holds (cached
    frames and local checkpoints)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class Op:
    """One operation's outcome inside a pass."""

    __slots__ = ("name", "latency_s", "ok", "error")

    def __init__(self, name: str):
        self.name, self.latency_s, self.ok, self.error = name, 0.0, False, None


def run_op(ctx, name: str, fn) -> Op:
    """Time ``fn`` as one operation; an exception is a failed operation."""
    op = Op(name)
    rec = ctx.tracer.open(f"op:{name}")
    t = time.perf_counter()
    try:
        fn()
        op.ok = True
    except Exception as e:  # the pass must go on and report the failure
        op.error = f"{type(e).__name__}: {e}"[:300]
        traceback.print_exc()
    finally:
        op.latency_s = time.perf_counter() - t
        ctx.tracer.close(rec)
    return op


# ---------------------------------------------------------------------------
# census_etl
# ---------------------------------------------------------------------------


class CensusEtl:
    """The paper's ETL at reduced national scale: 4 tables x 17 chunks of
    3 states from a seeded served Census API, union, warehouse write,
    readback."""

    name = "census_etl"
    modules = ("clean_census_acs_data_spark.plans.census_pipeline",)
    tracts_per_state = (120, 280)

    def prepare(self, ctx, seed: int) -> None:
        """Wire files for the timed passes, and a universe of the same
        four tables at about a quarter of the rows for the correctness
        pass. It pays the first touches (Python workers, each table's
        plans and generated code, the parquet writer) and decodes enough
        rows that the first timed pass no longer runs its write cold."""
        from clean_census_acs_data_spark.sources import census as C

        mapping = census_wire.read_mapping(C.MAPPING_CSV)
        self.wires = {}
        for kind, tracts in (("check", (30, 60)), ("timed", self.tracts_per_state)):
            wire_dir = os.path.join(ctx.run_dir, f"wire-{kind}")
            self.wires[kind] = (wire_dir, census_wire.generate(
                wire_dir, seed=seed, datasets=C.DATASETS, states=C.STATE_FIPS,
                mapping=mapping, tracts_per_state=tracts,
            ))

    def instrument(self, ctx) -> None:
        from clean_census_acs_data_spark import transforms as T
        from clean_census_acs_data_spark.plans import census_pipeline as P
        from clean_census_acs_data_spark.sources import audit as A
        from clean_census_acs_data_spark.sources import census as C
        from clean_census_acs_data_spark.sources import rest as R
        from perfbench.trace import instrument

        tr = ctx.tracer
        instrument(tr, C, "request_specs", "sources.census.request_specs")
        instrument(tr, R, "fetch_responses", "sources.rest.fetch", tail=True)
        instrument(tr, R, "decode_wire", "sources.rest.decode")
        instrument(tr, A, "append_audit", "sources.audit.append")
        for fn in ("normalize_columns", "apply_mapping", "align_schema", "cast_clean", "union_all"):
            instrument(tr, T, fn, "transforms.plan")
        instrument(tr, P, "write_warehouse_layout", "plans.census_pipeline.write")

    def check_pass(self, ctx) -> dict:
        return self._pass(ctx, *self.wires["check"])

    def timed_pass(self, ctx) -> dict:
        return self._pass(ctx, *self.wires["timed"])

    def _pass(self, ctx, wire_dir: str, manifest: dict) -> dict:
        """One pass; it checks its own readback against the manifest."""
        from pyspark.sql import functions as F

        from clean_census_acs_data_spark import transforms as T
        from clean_census_acs_data_spark.plans.census_pipeline import (
            run_census_pipeline,
            write_warehouse_layout,
        )
        spark = ctx.spark
        sc = spark.sparkContext
        counters = {k: sc.accumulator(0) for k in ("requests", "attempts", "ok", "wire_bytes")}
        fetcher = census_wire.ServedFetcher(wire_dir, manifest, counters)
        pass_dir = os.path.join(ctx.run_dir, f"pass{ctx.pass_no}")
        audit_path = os.path.join(pass_dir, "audit")
        out_path = os.path.join(ctx.run_dir, "warehouse")
        expected = manifest["expected"]
        cleans = []
        ops = []
        t0 = time.perf_counter()
        for table in expected["tables"]:
            def etl(table=table):
                clean, _dead = run_census_pipeline(
                    spark,
                    table_name=table,
                    year=census_wire.YEAR,
                    fetcher=fetcher,
                    audit_path=audit_path,
                )
                cleans.append(clean)

            ops.append(run_op(ctx, table, etl))
        readback = {}

        def write():
            write_warehouse_layout(T.union_all(cleans), out_path)

        def read():
            with ctx.tracer.span("plans.census_pipeline.readback"):
                back = spark.read.parquet(out_path)
                aggs = [F.count(F.lit(1)).alias("__rows")]
                for i, c in enumerate(expected["columns"]):
                    aggs += [F.count(F.col(f"`{c}`")).alias(f"n{i}"), F.sum(F.col(f"`{c}`")).alias(f"s{i}")]
                if census_wire.EXTRA_COLUMN in back.columns:
                    aggs.append(F.count(census_wire.EXTRA_COLUMN).alias("__extra"))
                readback.update(back.agg(*aggs).collect()[0].asDict())

        for name, step in (("warehouse_write", write), ("readback", read)):
            if all(op.ok for op in ops):
                ops.append(run_op(ctx, name, step))
            else:
                skipped = Op(name)
                skipped.error = "not run: an earlier operation failed"
                ops.append(skipped)
        pass_s = time.perf_counter() - t0

        mismatches = []
        if readback:
            if readback["__rows"] != expected["rows"]:
                mismatches.append(f"rows {readback['__rows']} != {expected['rows']}")
            for i, (c, want) in enumerate(expected["columns"].items()):
                got = (readback[f"n{i}"], readback[f"s{i}"] or 0)
                if got != (want["non_null"], want["sum"]):
                    mismatches.append(f"{c}: {got} != {(want['non_null'], want['sum'])}")
            if readback.get("__extra", 0) != expected["extra_non_null"]:
                mismatches.append(f"extra column {readback.get('__extra')} != {expected['extra_non_null']}")
        requests = counters["requests"].value
        ok = counters["ok"].value
        dead_letters = requests - ok
        if requests != manifest["requests"]:
            mismatches.append(f"requests {requests} != {manifest['requests']}")
        # the generator plants exactly one permanent failure
        extra_dead = max(0, dead_letters - 1)
        if dead_letters < 1:
            mismatches.append("the planted permanent failure was not dead-lettered")
        files, size = _dir_bytes(out_path) if readback else (0, 0)
        import pyarrow.parquet as pq

        audit_rows = sum(
            pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
            for d, _, names in os.walk(audit_path)
            for n in names
            if n.endswith(".parquet")
        )
        if audit_rows != manifest["requests"]:
            mismatches.append(f"audit rows {audit_rows} != {manifest['requests']}")
        for m in mismatches:
            print(f"census_etl pass {ctx.pass_no}: mismatch: {m}", flush=True, file=ctx.log)
        failed = sum(not op.ok for op in ops) + extra_dead + (1 if mismatches else 0)
        return {
            "pass_s": pass_s,
            "ops": ops,
            "attempted": len(ops),
            "failed": min(failed, len(ops)),
            "mismatches": mismatches,
            "counts": {
                "sources.rest.requests": requests,
                "sources.rest.attempts": counters["attempts"].value,
                "sources.rest.useful_ratio": ok / max(1, counters["attempts"].value),
                "sources.rest.dead_letters": dead_letters,
                "sources.rest.wire_bytes": counters["wire_bytes"].value,
                "sources.audit.rows": audit_rows,
                "plans.census_pipeline.files_written": files,
                "plans.census_pipeline.bytes_written": size,
                "spark.storage_bytes_held": _storage_bytes_held(spark),
            },
        }


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------

RELATIONAL = (
    "q1_pricing_summary",
    "broadcast_join_dim",
    "sortmerge_join_fact",
    "window_rank",
    "tpch_q21_waiting_suppliers",
)
LLM_DEDUP = (
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_ngram_jaccard",
    "similarity_ivf_topk",
)
STREAMING = ("streaming_tumbling_watermark",)


def _load_value_hash():
    """The order-insensitive result hash of scripts/local_correctness.py,
    so this gate and the local correctness sweep cannot disagree."""
    path = os.path.join(ROOT, "scripts", "local_correctness.py")
    spec = importlib.util.spec_from_file_location("_local_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def _result_key(sdf, value_hash) -> dict:
    from clean_census_acs_data_spark.compare import schema_kinds

    return {"rows": int(len(sdf)), "kinds": schema_kinds(sdf), "hash": value_hash(sdf)}


class RegistryMix:
    """Registry entries over generated tables, run one after another from
    a single client (a closed loop), each ended by a noop write."""

    name = "registry_mix"
    modules = ("clean_census_acs_data_spark.queries",)
    mix = RELATIONAL + LLM_DEDUP + STREAMING
    # 1/10 of the sf0.1 row counts, to fit the run-time budget; per-entry
    # cost is mostly fixed here (planning, jobs, micro-batches)
    data_scale = 0.1
    data_seed = 42

    def prepare(self, ctx, seed: int) -> None:
        """Tables and oracle results are fixed (the seed shapes only the
        census inputs), so both are cached in the work directory, keyed
        on the generator's source and each oracle's SQL text."""
        from clean_census_acs_data_spark.io import TABLES
        from clean_census_acs_data_spark.queries import ORACLES

        with open(tables.__file__, "rb") as f:
            version = hashlib.md5(f.read() + repr((self.data_scale, self.data_seed)).encode()).hexdigest()[:12]
        self.sf_dir = os.path.join(ctx.work_dir, f"tables-{version}")
        if not os.path.isdir(self.sf_dir):
            tmp = self.sf_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            tables.write(tmp, self.data_scale, self.data_seed)
            os.replace(tmp, self.sf_dir)
        cache_path = os.path.join(self.sf_dir, "oracles.json")
        cache = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                cache = json.load(f)
        self.value_hash = _load_value_hash()
        self.expected = {}
        missing = []
        for name in self.mix:
            sql_md5 = hashlib.md5(ORACLES[name].encode()).hexdigest()
            hit = cache.get(name)
            if hit and hit["sql_md5"] == sql_md5:
                self.expected[name] = hit
            else:
                missing.append((name, sql_md5))
        if missing:
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name, sql_md5 in missing:
                res = _result_key(con.execute(ORACLES[name]).df(), self.value_hash)
                res["kinds"] = [list(k) for k in res["kinds"]]
                self.expected[name] = cache[name] = {**res, "sql_md5": sql_md5}
            con.close()
            with open(cache_path + ".tmp", "w") as f:
                json.dump(cache, f)
            os.replace(cache_path + ".tmp", cache_path)

    def instrument(self, ctx) -> None:
        from clean_census_acs_data_spark import io
        from clean_census_acs_data_spark import session as S
        from clean_census_acs_data_spark.operators import components as CC
        from clean_census_acs_data_spark.operators import dedup as D
        from clean_census_acs_data_spark.operators import similarity as SIM
        from perfbench.trace import instrument

        tr = ctx.tracer
        instrument(tr, io, "load_table", "io.load_table")
        for fn in ("minhash_lsh_pairs", "ngram_jaccard_pairs"):
            instrument(tr, D, fn, "operators.dedup")
        instrument(tr, CC, "connected_components", "operators.components")
        instrument(tr, SIM, "ivf_topk", "operators.similarity.ivf_topk")
        for fn in (
            "standard_shingle_table",
            "standard_minhash_signatures",
            "standard_near_dup_pairs",
            "standard_components",
        ):
            instrument(tr, D, fn, "memo.access", on_call=ctx.memo.observe)
        instrument(tr, S, "scoped_session", "session.scoped_session", on_call=ctx.attach_listener)

    def _run(self, ctx, collect: bool) -> dict:
        from clean_census_acs_data_spark.queries import QUERIES
        from clean_census_acs_data_spark.session import (
            reap_tracked_caches,
            teardown_shared_memos,
        )

        spark = ctx.spark
        ops, mismatches = [], []
        t0 = time.perf_counter()
        # every pass pays its memo fills, the way a new corpus would
        teardown_shared_memos()
        reap_tracked_caches()
        for name in self.mix:
            def entry(name=name):
                with ctx.tracer.span("queries.build"):
                    df = QUERIES[name](spark, self.sf_dir)
                with ctx.tracer.span("queries.execute"):
                    if collect:
                        got = _result_key(df.toPandas(), self.value_hash)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                reap_tracked_caches()
                if collect:
                    want = self.expected[name]
                    same = (
                        got["rows"] == want["rows"]
                        and [list(k) for k in got["kinds"]] == want["kinds"]
                        and got["hash"] == want["hash"]
                    )
                    if not same:
                        mismatches.append(name)
                        raise AssertionError(f"{name}: result differs from its DuckDB oracle")

            before = ctx.memo.size()
            op = run_op(ctx, name, entry)
            ctx.memo.bill(name, ctx.memo.size() - before)
            ops.append(op)
        pass_s = time.perf_counter() - t0
        return {
            "pass_s": pass_s,
            "ops": ops,
            "attempted": len(ops),
            "failed": sum(not op.ok for op in ops),
            "mismatches": mismatches,
            "counts": {
                "spark.storage_bytes_held": _storage_bytes_held(spark),
                **self._pair_counts(ctx),
            },
        }

    def _pair_counts(self, ctx) -> dict:
        """Candidate and verified pairs of the shared near-dup table,
        counted after the pass (trace runs only: it costs two jobs)."""
        if not ctx.tracer.enabled:
            return {}
        from pyspark.sql import functions as F

        from clean_census_acs_data_spark.operators import dedup as D

        memo = D._STD_PAIRS_MEMO
        if not memo:
            return {}
        pairs = next(iter(memo.values()))
        cand = pairs.count()
        kept = pairs.where(F.col("jaccard") >= 0.5).count()
        return {
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.kept_pairs": kept,
            "operators.dedup.verify_yield": kept / cand if cand else 0.0,
        }

    def check_pass(self, ctx) -> dict:
        return self._run(ctx, collect=True)

    def timed_pass(self, ctx) -> dict:
        return self._run(ctx, collect=False)


WORKLOADS = {w.name: w for w in (CensusEtl, RegistryMix)}
