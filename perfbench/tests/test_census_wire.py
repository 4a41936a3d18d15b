"""The census generator's expected output, recomputed from its wire files."""

import json
import os

from perfbench import census_wire

DATASETS = {
    "t1": {"dataset": "acs/acs5/profile", "variables": ["V1E", "V2E"]},
    "t2": {"dataset": "acs/acs5/subject", "variables": ["W1E"]},
}
STATES = ["01", "02", "04", "05", "06", "08", "09"]
MAPPING = {"V1E": "Label one", "V2E": "Label two", "W1E": "Label three"}


def _generate(tmp_path, seed=7):
    return census_wire.generate(
        str(tmp_path), seed=seed, datasets=DATASETS, states=STATES,
        mapping=MAPPING, tracts_per_state=(2, 5),
    )


def _typed(cell: str):
    v = cell.strip()
    if v == "" or v in census_wire.SENTINELS:
        return None
    return int(v)


def test_expected_matches_an_independent_reading_of_the_wire(tmp_path):
    m = _generate(tmp_path)
    assert m["requests"] == 2 * 3  # 2 tables x ceil(7 / 3) chunks
    files = sorted(os.listdir(tmp_path))
    assert len(files) == m["requests"] - 1  # the permanent failure has no body
    assert f"{m['permanent']}.json" not in files
    assert len(m["flaky"]) == round(census_wire.FLAKY_SHARE * m["requests"])
    rows, extra, cols = 0, 0, {}
    for name in files:
        with open(tmp_path / name) as f:
            body = json.load(f)
        header, data = body[0], body[1:]
        assert all(isinstance(c, str) for r in body for c in r)
        rows += len(data)
        for r in data:
            for col, cell in zip(header, r):
                if col in MAPPING:
                    acc = cols.setdefault(MAPPING[col], {"non_null": 0, "sum": 0})
                    v = _typed(cell)
                    if v is not None:
                        acc["non_null"] += 1
                        acc["sum"] += v
                elif col == census_wire.EXTRA_COLUMN:
                    extra += 1
    exp = m["expected"]
    assert exp["rows"] == rows == sum(exp["tables"].values())
    assert exp["columns"] == cols
    assert exp["extra_non_null"] == extra


def test_same_seed_same_inputs(tmp_path):
    a = _generate(tmp_path / "a")
    b = _generate(tmp_path / "b")
    c = _generate(tmp_path / "c", seed=8)
    assert a == b
    assert a["expected"] != c["expected"]


def test_served_fetcher_fails_flaky_requests_once(tmp_path):
    m = _generate(tmp_path)
    fetch = census_wire.ServedFetcher(str(tmp_path), m)
    url = f"{census_wire.BASE_URL}/{census_wire.YEAR}/acs/acs5/profile"
    for chunk in census_wire.state_chunks(STATES):
        params = {"get": "NAME,V1E,V2E", "in": f"state:{chunk}"}
        key = census_wire.wire_key(url, params)
        first = fetch(url, params)[0]
        second = fetch(url, params)[0]
        if key == m["permanent"]:
            assert (first, second) == (500, 500)
        elif key in m["flaky"]:
            assert (first, second) == (503, 200)
        else:
            assert (first, second) == (200, 200)
