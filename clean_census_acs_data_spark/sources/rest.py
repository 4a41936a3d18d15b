"""Distributed REST source: request-spec DataFrame → mapInPandas fetch.

The reference fetches 68 (dataset, state-chunk) slices serially on the
driver with a 10 s sleep each (Test_census_tract.py:342-344 — a ≥680 s
floor). Here the specs are a DataFrame whose partitions are fetched
concurrently inside ``mapInPandas``, one Python task per partition
with no shuffle in front of it. The spec builders
(``sources/census.py``) lay the specs out as min(specs, task slots)
non-empty partitions, so P = min(specs, slots) tasks run at once and
each fetches its specs in a row; a per-task token bucket bounds the
aggregate request rate at P/interval (SURVEY.md §4 "scan
parallelism"). A Python task carries a fixed cost of about 0.25 s on
a 4-core box before it runs any user code, so more tasks than slots
(or empty ones) cost time and buy no concurrency.

Semantics preserved from the reference:

- keyed GET with timeout (census_get, Test_census_tract.py:109-120)
- audit every attempt BEFORE the status check — failed calls are
  logged too (:118-119; SURVEY.md §3.3 calls this out as a semantic
  detail); audit rows carry only x-ratelimit* response headers (:92)
- retry with exponential backoff (tenacity @retry, :138-142) —
  re-implemented in-connector (stdlib only) as ``request_with_retry``,
  the one request loop this fetch and the ``census_rest`` DataSource
  share; task-level spark.task.maxFailures is too coarse for a 429
- permanent failures become dead-letter rows instead of the
  reference's chunk→state fallback dance (:364-390): fetch at the
  finest granularity you can and quarantine what still fails
  (SURVEY.md §4 "design away")

The fetch function is injectable (``fetcher=``) so tests run a
deterministic fake with no network; the default uses stdlib urllib
(executors may not have `requests`).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from datetime import datetime, timezone
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, StringType, IntegerType

# (status, headers, body_text) — body is the raw JSON array-of-arrays text
FetchFn = Callable[[str, dict[str, str]], tuple[int, dict[str, str], str]]

# the reference's retry envelope: stop_after_attempt(5),
# wait_random_exponential(max=60) (Test_census_tract.py:138-142)
MAX_ATTEMPTS = 5
BACKOFF_BASE_S = 0.01
BACKOFF_CAP_S = 60.0

RESPONSE_SCHEMA = StructType(
    [
        StructField("table_name", StringType()),
        StructField("dataset", StringType()),
        StructField("year", IntegerType()),
        StructField("state_chunk", StringType()),
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("attempts", IntegerType()),
        StructField("body", StringType()),
        StructField("error", StringType()),
        StructField("audit_timestamp", StringType()),
        StructField("audit_headers", StringType()),
        StructField("audit_params", StringType()),
    ]
)


def default_urllib_fetcher(url: str, params: dict[str, str]) -> tuple[int, dict[str, str], str]:
    """stdlib GET with the reference's 60 s timeout
    (Test_census_tract.py:117)."""
    import urllib.error
    import urllib.parse
    import urllib.request

    full = url + "?" + urllib.parse.urlencode(params)
    try:
        with urllib.request.urlopen(full, timeout=60) as resp:  # noqa: S310
            return resp.status, dict(resp.headers.items()), resp.read().decode("utf-8")
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers.items()), e.read().decode("utf-8", "replace")[:200]


def build_census_url(year: int, dataset: str, *, base: str = "https://api.census.gov/data") -> str:
    return f"{base}/{year}/{dataset}"


class Outcome(NamedTuple):
    """Final state of one request after its retries."""

    status: int
    headers: dict[str, str]
    body: str | None
    error: str | None
    attempts: int


def request_with_retry(
    fetcher: FetchFn,
    url: str,
    params: dict[str, str],
    *,
    max_attempts: int = MAX_ATTEMPTS,
    backoff_base_s: float = BACKOFF_BASE_S,
    pace: Callable[[], None] | None = None,
) -> Outcome:
    """The connector's one request loop: up to ``max_attempts`` calls,
    retrying any non-2xx answer after an exponential backoff capped at
    ``BACKOFF_CAP_S``. A transport exception is status -1 with its text
    as the error. No sleep follows the last attempt. ``pace`` runs
    before every attempt (the caller's throttle)."""
    status, headers, error = 0, {}, None
    for attempt in range(max_attempts):
        if attempt:
            time.sleep(min(BACKOFF_CAP_S, backoff_base_s * 2 ** (attempt - 1)))
        if pace is not None:
            pace()
        try:
            status, headers, body = fetcher(url, params)
            error = None
        except Exception as e:  # transport error → retryable
            status, headers, body, error = -1, {}, None, str(e)[:200]
        if 200 <= status < 300:
            return Outcome(status, headers, body, None, attempt + 1)
        error = error or (body or "")[:200]  # resp.text[:200] (:368)
    return Outcome(status, headers, None, error, max_attempts)


def fetch_responses(
    specs: DataFrame,
    *,
    fetcher: FetchFn | None = None,
    api_key: str | None = None,
    geo_for: str = "tract:*",
    min_interval_s: float = 0.0,
    base_url: str = "https://api.census.gov/data",
) -> DataFrame:
    """Execute every request spec on executors; one output row per spec
    with status/body/audit columns (audit recorded for every request's
    final state, success or not). A spec with a state chunk is scoped
    ``in=state:<chunk>`` (Test_census_tract.py:162-164); one without is
    a national request such as the ZCTA scan (test_final_zcta.py:
    97-101).

    The fetch runs on ``specs`` as partitioned — no repartition, so no
    shuffle job — one Python task per partition, fetching that
    partition's specs one after another. ``min_interval_s`` is a
    per-task token bucket spacing consecutive attempts of one task:
    with the spec builders' layout P = min(specs, slots) tasks run at
    once, so the aggregate rate is ≤ P/interval, the knob that
    reproduces (or relaxes) the reference's 10 s throttle.
    """
    fetcher = fetcher or default_urllib_fetcher

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_call = 0.0

        def pace() -> None:  # token bucket (reference row 44)
            nonlocal last_call
            wait = last_call + min_interval_s - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            last_call = time.monotonic()

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                url = build_census_url(int(row.year), row.dataset, base=base_url)
                params = {"get": row.get_vars, "for": geo_for}
                if row.state_chunk:
                    params["in"] = f"state:{row.state_chunk}"
                if api_key:
                    params["key"] = api_key  # census_get key injection (:115-116)
                res = request_with_retry(fetcher, url, params, pace=pace)
                # audit-before-status-check ordering (:118-119): record the
                # request outcome whether or not it succeeded
                ratelimit = {
                    k: v for k, v in res.headers.items() if k.lower().startswith("x-ratelimit")
                }  # header prefix filter (:92)
                out.append(
                    {
                        "table_name": row.table_name,
                        "dataset": row.dataset,
                        "year": int(row.year),
                        "state_chunk": row.state_chunk,
                        "url": url,
                        "status": res.status,
                        "attempts": res.attempts,
                        "body": res.body,
                        "error": res.error,
                        "audit_timestamp": datetime.now(timezone.utc).isoformat(),
                        "audit_headers": json.dumps(ratelimit, ensure_ascii=False),
                        "audit_params": json.dumps(
                            {k: v for k, v in params.items() if k != "key"},
                            ensure_ascii=False,
                        ),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in RESPONSE_SCHEMA.fields])

    return specs.mapInPandas(run, RESPONSE_SCHEMA)


def split_dead_letters(responses: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(successes, dead_letters) — the quarantine-table replacement for
    the reference's per-state fallback loop (Test_census_tract.py:
    364-390)."""
    ok = F.col("status").between(200, 299)
    return responses.where(ok), responses.where(~ok)


def decode_wire(responses: DataFrame, expected_vars: list[str]) -> DataFrame:
    """JSON array-of-arrays → tall typed frame (wire decode, reference
    row 5), entirely with JVM JSON expressions — no Python in the path:

    row 0 of each body is the header; rows 1.. are data; every cell a
    string. Output: one row per (response, data-row) with a map
    column keyed by header name, plus state_fips tagging (row 9).
    Missing expected columns surface as NULLs at map-access time
    (NULL-fill alignment, rows 10, 23)."""
    rows = responses.select(
        "table_name",
        "state_chunk",
        F.from_json("body", "array<array<string>>").alias("arr"),
    )
    exploded = rows.select(
        "table_name",
        "state_chunk",
        F.element_at("arr", 1).alias("hdr"),
        F.explode(F.slice("arr", 2, F.greatest(F.size("arr") - 1, F.lit(0)))).alias("vals"),
    )
    kv = exploded.select(
        "table_name",
        "state_chunk",
        F.map_from_arrays("hdr", "vals").alias("m"),
    )
    geo_cols = ("state", "county", "tract", "zip code tabulation area")
    # schema discovery: union of observed header names beyond the request
    # (the reference's geo-column probe + extra-column passthrough,
    # test_final_zcta.py:196-198 / Test_census_tract.py:174-175). A tiny
    # metadata aggregation — one distinct over HEADER keys, not data:
    # r12 — this used to collect map_keys over the exploded kv frame,
    # which executed the whole decode fan-out (explode of every data
    # row + per-row map build) once for discovery and again for the
    # real query. The map's keys are by construction the header row,
    # so reading element_at(arr, 1) of responses that have at least
    # one data row (size >= 2 — headers of data-less responses never
    # produced kv rows, preserved exactly) observes the identical set
    # with one row per RESPONSE instead of one per data row.
    observed = {
        r[0]
        for r in rows.where(F.size("arr") >= 2)
        .select(F.explode(F.element_at("arr", 1)).alias("k"))
        .distinct()
        .collect()
    }
    extras = sorted(observed - set(expected_vars) - set(geo_cols))
    cols = [F.element_at("m", v).alias(v) for v in expected_vars]
    extra_cols = [F.element_at("m", v).alias(v) for v in extras]
    geo = [F.element_at("m", g).alias(g) for g in geo_cols if g in observed]
    return kv.select(
        "table_name", F.col("state_chunk").alias("state_fips"), *cols, *extra_cols, *geo
    )
