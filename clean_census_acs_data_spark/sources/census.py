"""Census ACS dataset catalog + request-universe builder.

Re-expresses the reference's hard-coded config as data:

- dataset → (endpoint dataset path, variable list): the four logical
  tables dp02/dp03/dp05/s0101 (Test_census_tract.py:287-313;
  test_final_zcta.py:160-186 — identical variable lists).
- state FIPS universe: range(1,57) minus {3,7,14,43,52}
  (Test_census_tract.py:327), zero-padded to 2 digits.
- chunking: 3 states per request (chunk_list, Test_census_tract.py:
  329-331) — but expressed as a DataFrame of request specs so the
  fetch layer can run every chunk concurrently on executors instead of
  the reference's serial driver loop (SURVEY.md §4 "the single biggest
  speedup").
- the 62-row code→label mapping, checked in as a CSV fixture
  (converted once from `Census Data Fields for API.xlsx` Sheet1 —
  no runtime xlsx dependency, SURVEY.md §7 Phase 0).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
MAPPING_CSV = os.path.join(FIXTURE_DIR, "census_field_mapping.csv")

# Test_census_tract.py:287-313 — variable lists per logical table.
DATASETS: dict[str, dict] = {
    "dp02": {
        "dataset": "acs/acs5/profile",
        "variables": [f"DP02_00{i}E" for i in range(60, 65)] + ["DP02_0068E"],
    },
    "dp03": {
        "dataset": "acs/acs5/profile",
        "variables": [f"DP03_00{i}E" for i in range(52, 63)] + ["DP03_0097PE", "DP03_0009PE"],
    },
    "dp05": {
        "dataset": "acs/acs5/profile",
        "variables": ["DP05_0076E"] + [f"DP05_00{i}E" for i in range(82, 89)],
    },
    "s0101": {
        "dataset": "acs/acs5/subject",
        "variables": [f"S0101_C01_0{i:02d}E" for i in range(1, 33)]
        + ["S0101_C03_001E", "S0101_C05_001E", "S0101_C05_024E"],
    },
}

# Test_census_tract.py:327 — the 51-code state FIPS universe.
EXCLUDED_FIPS = {3, 7, 14, 43, 52}
STATE_FIPS = [f"{i:02d}" for i in range(1, 57) if i not in EXCLUDED_FIPS]


def load_mapping_dict(spark: SparkSession) -> dict[str, str]:
    """Driver-side dict form with key cleanup (Test_census_tract.py:
    47-54) and loud collision detection (SURVEY.md §7 risk register).

    Reads the 62-row fixture with the stdlib csv module: this is
    driver-side config metadata (the reference reads it with
    pd.read_excel on the driver too) — a Spark job + collect for it
    was one avoidable job per pipeline invocation. ``spark`` is kept
    in the signature for call-site compatibility."""
    import csv

    from clean_census_acs_data_spark.transforms import build_mapping

    with open(MAPPING_CSV, newline="") as f:
        return build_mapping(
            [(r["api_code"], r["label"]) for r in csv.DictReader(f)]
        )


def preflight_datasets(
    fetcher,
    *,
    year: int,
    datasets: dict[str, dict] | None = None,
    base_url: str = "https://api.census.gov/data",
) -> tuple[dict[str, dict], list[tuple[str, str]]]:
    """variables.json metadata pre-flight (reference
    ``filter_available_variables``, Test_census_tract.py:125-133) across
    a catalog. Returns (filtered catalog, [(table_name,
    dropped_variable), ...]). Without it, a variable retired in a
    vintage rollover 400s every chunk of its dataset into the
    dead-letter table; with it the request never carries the retired
    variable. Unlike the reference (silent drop), the dropped list is
    returned so callers can surface a diagnostic. The metadata response
    is fetched on the driver once per *distinct* dataset path
    (dp02/dp03/dp05 share acs/acs5/profile → one call, not three) —
    never a data fetch."""
    import json

    datasets = datasets or DATASETS
    meta_cache: dict[str, set] = {}
    filtered: dict[str, dict] = {}
    dropped_all: list[tuple[str, str]] = []
    for name, cfg in datasets.items():
        path = cfg["dataset"]
        if path not in meta_cache:
            meta_url = f"{base_url}/{year}/{path}/variables.json"
            status, _hdrs, body = fetcher(meta_url, {})
            if not (200 <= status < 300):
                raise RuntimeError(
                    f"variables.json pre-flight failed: HTTP {status} for {meta_url}"
                )
            meta_cache[path] = set(json.loads(body).get("variables", {}))
        available = meta_cache[path]
        keep = [v for v in cfg["variables"] if v in available]
        dropped_all.extend((name, v) for v in cfg["variables"] if v not in available)
        filtered[name] = {**cfg, "variables": keep}
    return filtered, dropped_all


SPEC_SCHEMA = (
    "table_name string, dataset string, year int, get_vars string, "
    "chunk_id int, state_chunk string"
)


def request_specs(
    spark: SparkSession,
    *,
    year: int = 2023,
    chunk_size: int = 3,
    datasets: dict[str, dict] | None = None,
) -> DataFrame:
    """The request universe as a DataFrame: one row per (logical table,
    state chunk) — the reference's 4×17=68 serial calls become rows the
    fetch runs concurrently, one Python task per non-empty partition
    (see ``_specs`` for the layout). Columns: table_name, dataset, year,
    get_vars (csv), chunk_id, state_chunk (csv). Chunks are the
    reference's chunk_list(states, 3) (Test_census_tract.py:329-331);
    the universe is driver-side config of (tables × chunks) rows, so it
    is built on the driver."""
    chunks = [
        ",".join(STATE_FIPS[i : i + chunk_size])
        for i in range(0, len(STATE_FIPS), chunk_size)
    ]
    return _specs(spark, year, datasets, chunks)


def zcta_request_specs(
    spark: SparkSession,
    *,
    year: int = 2017,
    datasets: dict[str, dict] | None = None,
) -> DataFrame:
    """The ZCTA request universe: ONE single-shot request per dataset
    (test_final_zcta.py:191-193 — all ZCTAs at once, no chunking); the
    empty state chunk marks a national request."""
    return _specs(spark, year, datasets, [""])


def requested_columns(variables: list[str]) -> list[str]:
    """What a request asks for: NAME, then the variables in order with
    duplicates dropped (reference row 13)."""
    return ["NAME"] + list(dict.fromkeys(variables))


def _specs(spark: SparkSession, year: int, datasets: dict | None, chunks: list[str]) -> DataFrame:
    """The spec rows as a local relation built from an Arrow table. It
    scans as a ``LocalTableScan`` split into min(rows, defaultParallelism)
    partitions, none empty, whatever the Arrow conf says; a Python list
    would scan as ``parallelize`` into defaultParallelism slices, empty
    ones included, and the fetch runs one Python task per partition
    (about 0.25 s of fixed worker cost each, before any request)."""
    import pyarrow as pa  # deferred: keeps the registry import fast

    rows = [
        (name, cfg["dataset"], year, ",".join(requested_columns(cfg["variables"])), i, chunk)
        for name, cfg in (datasets or DATASETS).items()
        for i, chunk in enumerate(chunks)
    ]
    columns = [f.split()[0] for f in SPEC_SCHEMA.split(",")]
    table = pa.table({c: [r[j] for r in rows] for j, c in enumerate(columns)})
    return spark.createDataFrame(table, SPEC_SCHEMA)
