"""Seeded synthetic Census API: wire files, a served fetcher, and the
expected pipeline output computed without the program's code.

The universe is the reference's: 4 tables x 17 chunks of 3 states. Each
state gets a seeded number of tracts. Every cell on the wire is a string.
A few cells are blank, an ACS sentinel code or padded with spaces, so the
typed tier's blank/sentinel -> NULL rules are exercised.

Planted faults, chosen from the seed:

- about 10% of requests answer 503 once, then 200 (the retry path);
- one request answers 500 every time (the dead-letter path);
- one request carries an unmapped extra column (the pass-through path).

The fetcher reads the pre-generated files and never sleeps, so a pass
measures the program rather than a timer. Real Census API latency is
deliberately not modelled.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random

YEAR = 2023
BASE_URL = "https://api.census.gov/data"
CHUNK = 3
EXTRA_COLUMN = "DPXX_9999E"
SENTINELS = ("-888888888", "-999999999", "-666666666", "-222222222")
FLAKY_SHARE = 0.10


def wire_key(url: str, params: dict[str, str]) -> str:
    """File stem of the response to one request."""
    raw = f"{url}|{params['get']}|{params.get('in', '')}"
    return hashlib.md5(raw.encode()).hexdigest()[:16]


def state_chunks(states: list[str]) -> list[str]:
    ordered = sorted(states)
    return [",".join(ordered[i : i + CHUNK]) for i in range(0, len(ordered), CHUNK)]


def read_mapping(path: str) -> dict[str, str]:
    """api code -> label, keys cleaned the way the reference cleans them."""
    with open(path, newline="") as f:
        return {r["api_code"].upper().strip(): r["label"] for r in csv.DictReader(f)}


def _cell(rng: random.Random) -> tuple[str, int | None]:
    """One measure cell on the wire and its value after the typed tier."""
    r = rng.random()
    if r < 0.02:
        return "", None
    if r < 0.03:
        return rng.choice(SENTINELS), None
    v = rng.randrange(0, 100_000)
    if r < 0.04:
        return f" {v} ", v
    return str(v), v


def generate(
    out_dir: str,
    *,
    seed: int,
    datasets: dict[str, dict],
    states: list[str],
    mapping: dict[str, str],
    tracts_per_state: tuple[int, int],
) -> dict:
    """Write one JSON body per successful request into ``out_dir`` and
    return the manifest: planted faults plus the expected output.

    Expected output, per table: row count, and for every measure label
    the non-NULL count and sum after blank/sentinel -> NULL, plus the
    non-NULL count of the unmapped extra column."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    tracts = {s: rng.randint(*tracts_per_state) for s in sorted(states)}
    chunks = state_chunks(states)
    requests = []
    for table, cfg in datasets.items():
        get_vars = ["NAME"] + list(dict.fromkeys(cfg["variables"]))
        url = f"{BASE_URL}/{YEAR}/{cfg['dataset']}"
        for chunk in chunks:
            params = {"get": ",".join(get_vars), "in": f"state:{chunk}"}
            requests.append((table, chunk, get_vars, wire_key(url, params)))
    keys = [r[3] for r in requests]
    permanent, extra = rng.sample(keys, 2)
    flaky = sorted(rng.sample([k for k in keys if k != permanent], round(FLAKY_SHARE * len(keys))))

    expected = {"rows": 0, "tables": {}, "extra_non_null": 0}
    columns: dict[str, dict] = {}
    wire_bytes = 0
    for table, chunk, get_vars, key in requests:
        tbl = expected["tables"].setdefault(table, 0)
        if key == permanent:
            continue
        header = list(get_vars) + ([EXTRA_COLUMN] if key == extra else []) + ["state", "county", "tract"]
        rows = [header]
        measures = get_vars[1:]
        for st in chunk.split(","):
            for t in range(tracts[st]):
                county, tract = f"{1 + t // 50:03d}", f"{t:06d}"
                row = [f"Census Tract {t}, County {county}, State {st}"]
                for var in measures:
                    text, value = _cell(rng)
                    row.append(text)
                    label = mapping.get(var, var)
                    acc = columns.setdefault(label, {"non_null": 0, "sum": 0})
                    if value is not None:
                        acc["non_null"] += 1
                        acc["sum"] += value
                if key == extra:
                    row.append("42")
                    expected["extra_non_null"] += 1
                row += [st, county, tract]
                rows.append(row)
        body = json.dumps(rows)
        wire_bytes += len(body)
        with open(os.path.join(out_dir, f"{key}.json"), "w") as f:
            f.write(body)
        expected["tables"][table] = tbl + len(rows) - 1
        expected["rows"] += len(rows) - 1
    expected["columns"] = columns
    return {
        "requests": len(requests),
        "permanent": permanent,
        "extra": extra,
        "flaky": flaky,
        "wire_bytes": wire_bytes,
        "expected": expected,
    }


class ServedFetcher:
    """Picklable ``FetchFn`` serving the generated wire files.

    A new instance per pass: the pipeline memoizes responses per fetcher,
    so a fresh one makes every pass pay the fetch. Optional Spark
    accumulators count what the executors did (requests, attempts,
    successes, body bytes)."""

    def __init__(self, wire_dir: str, manifest: dict, counters: dict | None = None):
        self.wire_dir = wire_dir
        self.permanent = manifest["permanent"]
        self.flaky = frozenset(manifest["flaky"])
        self.counters = counters
        self._failed_once: set[str] = set()

    def _add(self, name: str, n: int) -> None:
        if self.counters is not None:
            self.counters[name].add(n)

    def __call__(self, url: str, params: dict[str, str]) -> tuple[int, dict[str, str], str]:
        key = wire_key(url, params)
        self._add("attempts", 1)
        if key not in self._failed_once:
            self._add("requests", 1)
        if key == self.permanent:
            self._failed_once.add(key)
            return 500, {"X-RateLimit-Remaining": "99"}, "server error"
        if key in self.flaky and key not in self._failed_once:
            self._failed_once.add(key)
            return 503, {"X-RateLimit-Remaining": "99"}, "service unavailable"
        with open(os.path.join(self.wire_dir, f"{key}.json")) as f:
            body = f.read()
        self._add("ok", 1)
        self._add("wire_bytes", len(body))
        return 200, {"X-RateLimit-Remaining": "99", "Server": "perfbench"}, body
