"""Golden-pipeline + operational-semantics tests for the census source
layer (SURVEY.md §5.2 items 2 and 4), using a deterministic fake
fetcher — no network. Exercises the FIXTURES.md A1 variants: missing
requested variable, extra unmapped column, empty response, failing
chunk (dead-letter), and the audit-every-attempt ordering."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from clean_census_acs_data_spark.plans.census_pipeline import (
    run_census_pipeline,
    write_warehouse_layout,
)
from clean_census_acs_data_spark.sources import census as C
from clean_census_acs_data_spark.sources.audit import read_audit
from clean_census_acs_data_spark.sources.fake_census import fake_census_fetcher


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    audit = str(tmp_path_factory.mktemp("audit") / "usage")
    clean, dead = run_census_pipeline(
        spark, table_name="dp02", fetcher=fake_census_fetcher, audit_path=audit
    )
    return clean.cache(), dead.cache(), audit


def test_dead_letter_quarantine(pipeline_result):
    clean, dead, _ = pipeline_result
    dl = dead.collect()
    # exactly one chunk contains state 04
    assert len(dl) == 1
    assert dl[0]["status"] == 500
    assert dl[0]["attempts"] == 5  # exhausted retries (reference: 5 attempts)
    assert "05" in dl[0]["state_chunk"]


def test_audit_logs_failures_too(pipeline_result):
    clean, dead, audit_path = pipeline_result
    spark = clean.sparkSession
    audit = read_audit(spark, audit_path)
    # one audit row per request, INCLUDING the failed chunk
    assert audit.count() == 17
    # only x-ratelimit* headers kept (prefix filter, Test_census_tract.py:92)
    hdrs = [json.loads(r["headers"]) for r in audit.collect()]
    assert all(set(map(str.lower, h)) <= {"x-ratelimit-remaining"} for h in hdrs)
    # params recorded without the api key
    params = [json.loads(r["params"]) for r in audit.collect()]
    assert all("key" not in p and "get" in p for p in params)


def test_schema_alignment_and_mapping(pipeline_result):
    clean, _, _ = pipeline_result
    cols = clean.columns
    # mapped labels present, expected-first ordering, geo extras after
    assert cols[0] == "TABLE_NAME"
    assert cols[1] == "NAME"
    assert "Less than High School" in cols
    assert "Bachelor's Degree or Greater" in cols
    # unmapped extra column passes through un-renamed (identity fallback)
    assert "DPXX_9999E" in cols
    # geography tagging: state_fips = the chunk string (reference :169)
    assert "STATE_FIPS" in cols


def test_null_fill_and_cast_clean(pipeline_result):
    clean, _, _ = pipeline_result
    # chunk with state 01 was missing the LAST requested variable
    # ("Bachelor's Degree or Greater" = DP02_0068E) → NULL-filled
    missing = clean.where(F.col("STATE") == "01").select("Bachelor's Degree or Greater")
    assert all(r[0] is None for r in missing.collect())
    # blanks and sentinels → NULL after cast_clean; measures are longs
    some = clean.where(F.col("STATE") == "02").collect()
    schema = {f.name: f.dataType.simpleString() for f in clean.schema.fields}
    assert schema["Less than High School"] == "bigint"
    tract1 = [r for r in some if r["TRACT"] == "000001"]
    assert tract1[0]["Less than High School"] is None  # was blank "" (idx 1)
    assert tract1[0]["Some High School"] is None  # was sentinel -888888888 (idx 2)


def test_empty_response_contributes_no_rows(pipeline_result):
    clean, _, _ = pipeline_result
    assert clean.where(F.col("STATE") == "09").count() == 0


def test_measure_values_roundtrip(pipeline_result):
    clean, _, _ = pipeline_result
    # state 02, tract 0: value = int(state)*100 + var_index
    r = clean.where((F.col("STATE") == "02") & (F.col("TRACT") == "000000")).collect()[0]
    assert r["Less than High School"] == 2 * 100 + 1  # DP02_0060E is get_vars[1]


def test_warehouse_layout_write(pipeline_result, tmp_path):
    clean, _, _ = pipeline_result
    out = str(tmp_path / "dp02")
    write_warehouse_layout(clean, out, num_files=4)
    spark = clean.sparkSession
    back = spark.read.parquet(out)
    assert back.count() == clean.count()
    assert set(back.columns) == set(clean.columns)


def test_request_specs_shape(spark):
    specs = C.request_specs(spark).cache()
    # 4 datasets × ceil(51/3)=17 chunks = 68 (reference request universe)
    assert specs.count() == 68
    assert specs.select("table_name").distinct().count() == 4
    chunks = specs.where("table_name = 'dp02'").select("state_chunk").collect()
    assert len(chunks) == 17
    all_states = sorted(",".join(r[0] for r in chunks).split(","))
    assert all_states == sorted(C.STATE_FIPS)


def _partition_sizes(df):
    return df.rdd.glom().map(len).collect()


def _one_table(name="dp02"):
    return {name: C.DATASETS[name]}


def test_fetch_layout_no_shuffle_no_empty_tasks(spark):
    """The fetch runs one Python task per spec partition: a tract table's
    17 specs sit in min(17, defaultParallelism) partitions, none empty,
    and the fetch puts no Exchange in front of its mapInPandas. The
    single ZCTA spec runs as one task."""
    from clean_census_acs_data_spark.sources import rest as R

    specs = C.request_specs(spark, datasets=_one_table())
    sizes = _partition_sizes(specs)
    assert len(sizes) == min(17, spark.sparkContext.defaultParallelism)
    assert min(sizes) > 0 and sum(sizes) == 17

    fetched = R.fetch_responses(specs, fetcher=fake_census_fetcher)
    plan = fetched._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert fetched.rdd.getNumPartitions() == len(sizes)

    zcta = C.zcta_request_specs(spark, datasets=_one_table())
    assert _partition_sizes(zcta) == [1]
    assert R.fetch_responses(zcta, fetcher=fake_census_fetcher).rdd.getNumPartitions() == 1


def test_min_interval_paces_consecutive_requests_of_one_task(spark):
    """``min_interval_s`` spaces the calls one task makes: with every spec
    in one partition the 17 calls run in a row, each at least the
    interval after the one before, and each spec answers exactly once."""
    from clean_census_acs_data_spark.sources import rest as R

    def clock_fetcher(url, params):
        # answers at once, with the executor's clock at the call as body
        import time

        return 200, {}, repr(time.monotonic())

    interval = 0.05
    specs = C.request_specs(spark, datasets=_one_table()).coalesce(1)
    rows = R.fetch_responses(
        specs, fetcher=clock_fetcher, min_interval_s=interval
    ).collect()
    assert sorted(r.state_chunk for r in rows) == sorted(
        r.state_chunk for r in specs.collect()
    )
    assert len({r.state_chunk for r in rows}) == 17
    calls = sorted(float(r.body) for r in rows)
    gaps = [b - a for a, b in zip(calls, calls[1:])]
    # the pace stamps its clock just before the call: allow the few
    # microseconds between that stamp and the fetcher's own reading
    assert min(gaps) >= interval - 1e-3, gaps


def test_preflight_drops_retired_variable(spark, tmp_path):
    """A variable retired from the vintage (absent from variables.json)
    must be dropped from the request — never fetched, never
    dead-lettered — and surfaced as a diagnostic; the output schema
    still carries its label as a NULL column (reindex semantics)."""
    from clean_census_acs_data_spark.sources.fake_census import (
        RETIRED_VARIABLE,
        fake_metadata_fetcher,
    )

    audit = str(tmp_path / "usage")
    clean, dead = run_census_pipeline(
        spark, table_name="dp02", fetcher=fake_metadata_fetcher,
        audit_path=audit, preflight=True,
    )
    # the retired variable never appears in any request's get= param
    params = [json.loads(r["params"]) for r in read_audit(spark, audit).collect()]
    assert all(RETIRED_VARIABLE not in p["get"] for p in params)
    # diagnostic recorded
    diag = spark.read.parquet(audit + "_preflight").collect()
    assert [(r.table_name, r.variable, r.reason) for r in diag] == [
        ("dp02", RETIRED_VARIABLE, "variable_unavailable")
    ]
    # no new dead letters beyond the always-failing state-05 chunk
    assert dead.count() == 1
    # reindex semantics: the retired variable's label is a NULL column
    mapping = C.load_mapping_dict(spark)
    label = mapping[RETIRED_VARIABLE]
    assert label in clean.columns
    assert clean.where(F.col(label).isNotNull()).count() == 0


def test_preflight_datasets_caches_per_path(spark):
    """dp02/dp03/dp05 share one dataset path: the metadata endpoint must
    be hit once per distinct path, not once per logical table."""
    calls = []

    def counting_fetcher(url, params):
        calls.append(url)
        from clean_census_acs_data_spark.sources.fake_census import fake_metadata_fetcher
        return fake_metadata_fetcher(url, params)

    filtered, dropped = C.preflight_datasets(counting_fetcher, year=2023)
    assert len(calls) == 2  # acs/acs5/profile + acs/acs5/subject
    assert ("dp02", "DP02_0068E") in dropped
    assert "DP02_0068E" not in filtered["dp02"]["variables"]
    # untouched datasets keep their full lists
    assert filtered["s0101"]["variables"] == C.DATASETS["s0101"]["variables"]


def test_observation_metrics_without_recompute(spark):
    """Observability at scale: df.observe() collects row counts /
    integral sums as a side effect of the ONE action that materializes
    the pipeline — no second pass over the data (a .count() after the
    write would rescan everything at 100 TB)."""
    from pyspark.sql import Observation

    clean, _dead = run_census_pipeline(
        spark, table_name="dp02", fetcher=fake_census_fetcher
    )
    obs = Observation("census_metrics")
    observed = clean.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("TABLE_NAME")).alias("n_tagged"),
    )
    n_action = observed.count()  # the single materializing action
    metrics = obs.get
    assert metrics["n_rows"] == n_action
    assert metrics["n_tagged"] == n_action


def _counting(spark, delegate):
    """A new fetcher object that counts its calls, on the executors too,
    with an accumulator, and answers with ``delegate``."""
    calls = spark.sparkContext.accumulator(0)

    def fetch(url, params):
        calls.add(1)
        return delegate(url, params)

    return fetch, calls


def test_each_pipeline_call_fetches_once_and_memo_stays_bounded(spark, tmp_path):
    """The responses memo: one fetch per request shape and fetcher, one
    entry per request shape however many fetchers pass through, and
    teardown_shared_memos() empties it."""
    from clean_census_acs_data_spark.plans import census_pipeline as P
    from clean_census_acs_data_spark.plans.census_pipeline import run_zcta_pipeline
    from clean_census_acs_data_spark.session import teardown_shared_memos
    from clean_census_acs_data_spark.sources.fake_census import fake_zcta_fetcher

    audit = str(tmp_path / "usage")
    fetch, calls = _counting(spark, fake_census_fetcher)
    for _ in range(2):
        clean, dead = run_census_pipeline(
            spark, table_name="dp02", fetcher=fetch, audit_path=audit
        )
        clean.count(), dead.count()
    # one fetch is 17 requests, and the state-05 chunk is tried 5 times;
    # the second call reuses it, but still audits its own 17 requests
    assert calls.value == 16 + 5
    assert read_audit(spark, audit).count() == 2 * 17
    shape = ("dp02", 2023, P.TRACT_GEO, tuple(C.DATASETS["dp02"]["variables"]))
    size = len(P._RESPONSES_MEMO)

    fresh, fresh_calls = _counting(spark, fake_census_fetcher)
    clean, _dead = run_census_pipeline(spark, table_name="dp02", fetcher=fresh)
    clean.count()
    assert fresh_calls.value == 21 and calls.value == 21
    assert len(P._RESPONSES_MEMO) == size
    assert len([k for k in P._RESPONSES_MEMO if k[1:] == shape]) == 1

    teardown_shared_memos()
    assert not P._RESPONSES_MEMO

    zfetch, zcalls = _counting(spark, fake_zcta_fetcher)
    clean, _dead = run_zcta_pipeline(spark, table_name="dp02", fetcher=zfetch)
    assert clean.count() == 5
    assert zcalls.value == 1
